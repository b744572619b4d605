"""Seeded inputs for the three workloads, and the expected outputs computed
from them without the engine.

Everything here is numpy/pandas/pyarrow: the engine is never imported, so
the expected counts are an independent computation.  Inputs are written
under a cache directory keyed by workload, seed and size; a second call
with the same key reuses the files and the stored expectations.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "code_exec", "browser", "vector_db"])
WORDS = np.array(["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
                  "golf", "hotel", "india", "juliet", "kilo", "lima",
                  "mike", "november"])
METHODS = np.array(["GET", "POST", "PUT", "DELETE"])
STATUS = np.array([200, 200, 200, 301, 404, 500])
KINDS = ("apache", "kv", "json", "prose")

# flagship sinks: the root pipeline reroutes role == 'tool' rows to the
# tools datastream; rows that fail grok (prose) stop before the reroute
TURNS_SINK = "logs-agent.turns-default"
TOOLS_SINK = "logs-agent.tools-default"

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
DATASTREAM = {"data_stream.type": "logs",
              "data_stream.dataset": "agent.turns",
              "data_stream.namespace": "default"}


def transcripts(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Flagship-shaped transcript turns: text mix ~55% apache request
    lines, ~15% ``tool=`` kv lines, ~10% JSON, ~20% prose; conversations
    drawn with a u**2 skew so a few are hot.  Adds a ``kind`` column that
    is dropped before writing."""
    n_convs = max(4, n // 20)
    conv = np.floor(rng.random(n) ** 2.0 * n_convs).astype(np.int64)
    turn_idx = pd.Series(conv).groupby(conv).cumcount().to_numpy(np.int32)
    role = ROLES[rng.integers(0, 4, n)]
    tool_pick = rng.integers(0, 10, n)
    tool = np.where(tool_pick < 4, TOOLS[np.minimum(tool_pick, 3)], None)
    draw = rng.integers(0, 100, n)
    kind = np.select([draw < 55, draw < 70, draw < 80], [0, 1, 2], 3)
    ip = rng.integers(1, 255, (n, 4))
    word = WORDS[rng.integers(0, len(WORDS), n)]
    method = METHODS[rng.integers(0, 4, n)]
    status = STATUS[rng.integers(0, len(STATUS), n)]
    nbytes = rng.integers(0, 100_000, n)
    dur = rng.integers(0, 10_000, n) / 1000.0
    path_n = rng.integers(0, 1000, n)
    lat = rng.integers(0, 5000, n)
    cnt = rng.integers(0, 50, n)
    flag = rng.integers(0, 2, n)
    text = []
    for i in range(n):
        k = kind[i]
        if k == 0:
            text.append(f"{ip[i, 0]}.{ip[i, 1]}.{ip[i, 2]}.{ip[i, 3]} "
                        f"{method[i]} /api/{word[i]}/{path_n[i]} {status[i]} "
                        f"{nbytes[i]} {dur[i]}")
        elif k == 1:
            text.append(f"tool={tool[i] or 'none'} status={status[i]} "
                        f"latency_ms={lat[i]} q={word[i]}")
        elif k == 2:
            text.append(f'{{"action": "{word[i]}", "count": {cnt[i]}, '
                        f'"ok": {"true" if flag[i] else "false"}}}')
        else:
            text.append(f"please {word[i]} the {method[i]} report and "
                        f"summarize {status[i]} items")
    base = np.datetime64("2026-01-01T00:00:00", "s")
    ts = base + ((conv % 720) * 3600 + turn_idx.astype(np.int64) * 7
                 ).astype("timedelta64[s]")
    return pd.DataFrame({
        "conv_id": [f"conv-{c:08d}" for c in conv], "turn_idx": turn_idx,
        "role": role, "text": text, "tool": tool,
        "ts": pd.to_datetime(ts).tz_localize("UTC"), "kind": kind,
    })


def flagship_expect(df: pd.DataFrame) -> dict:
    """Expected flagship outcome: prose rows fail grok and stay in the
    turns sink tagged; the other tool-role rows are rerouted."""
    prose = df["kind"].to_numpy() == 3
    tool = df["role"].to_numpy() == "tool"
    n_tools = int((tool & ~prose).sum())
    return {"rows": len(df), "failed": int(prose.sum()),
            "sinks": {TOOLS_SINK: n_tools, TURNS_SINK: len(df) - n_tools}}


def shares(df: pd.DataFrame) -> dict:
    """Measured share of each text kind and of tool-role rows."""
    n = max(1, len(df))
    out = {f"{k}_share": round(float((df["kind"] == i).sum()) / n, 4)
           for i, k in enumerate(KINDS)}
    out["tool_role_share"] = round(float((df["role"] == "tool").sum()) / n, 4)
    return out


def _write_parquet(df: pd.DataFrame, path: str, extra: dict | None = None):
    table = pa.Table.from_pandas(df.drop(columns=["kind"]),
                                 schema=TRANSCRIPT_SCHEMA,
                                 preserve_index=False)
    for name, value in (extra or {}).items():
        table = table.append_column(name, pa.array([value] * len(df)))
    pq.write_table(table, path, compression="zstd")


def _cached(root: str, key: str, build) -> tuple[str, dict]:
    """Build ``root/key`` once: ``build(tmpdir) -> meta``; the directory is
    renamed into place only after it is complete."""
    final = os.path.join(root, key)
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return final, json.load(f)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, meta


def bulk_input(root: str, seed: int, rows: int, files: int) -> tuple[str, dict]:
    """One directory of ``files`` transcript parquet files."""
    def build(d):
        df = transcripts(np.random.default_rng(seed), rows)
        os.makedirs(os.path.join(d, "input"))
        for i, part in enumerate(np.array_split(np.arange(rows), files)):
            _write_parquet(df.iloc[part],
                           os.path.join(d, "input", f"part-{i:03d}.parquet"))
        return {"expect": flagship_expect(df), "shares": shares(df)}
    return _cached(root, f"bulk-s{seed}-r{rows}-f{files}", build)


def stream_input(root: str, seed: int, batches: int, batch_rows: int,
                 files_per_batch: int) -> tuple[str, dict]:
    """A backlog of ``batches * files_per_batch`` equal parquet files that
    already carry the ``data_stream.*`` columns.  Expectations are kept per
    file, because the micro-batch a file lands in is the source's choice."""
    def build(d):
        rows = batches * batch_rows
        df = transcripts(np.random.default_rng(seed), rows)
        src = os.path.join(d, "input")
        os.makedirs(src)
        per_file = {}
        n_files = batches * files_per_batch
        for i, part in enumerate(np.array_split(np.arange(rows), n_files)):
            name = f"part-{i:05d}.parquet"
            _write_parquet(df.iloc[part], os.path.join(src, name), DATASTREAM)
            per_file[name] = flagship_expect(df.iloc[part])
        return {"expect_per_file": per_file, "shares": shares(df)}
    return _cached(root, f"stream-s{seed}-b{batches}x{batch_rows}"
                         f"-f{files_per_batch}", build)


# ---------------------------------------------------------------- deep chain

DEEP_SINK = "logs-deep.events-default"
DEEP_ROUTING = {DEEP_SINK: "deep-main"}
LEVELS = np.array(["INFO", "Warn", "ERROR", "debug"])
SERVICES = np.array(["Api-Gateway", "Auth", "Billing", "Search", "Worker"])
ACTIONS = np.array(["login", "logout", "query", "upload", "delete"])
SLOW_MS = 500


def deep_pipelines(blocks: int) -> dict[str, dict]:
    """Integration-style pipelines: ``deep-main`` (dissect, then ``blocks``
    repeated set/convert/rename/gsub/lowercase/append/remove groups with
    painless ``if``s, a nested ``deep-enrich`` call and a pipeline-level
    ``on_failure`` handler) and ``deep-enrich``."""
    main = [
        {"set": {"field": "event.kind", "value": "event"}},
        {"dissect": {"field": "message", "pattern":
                     "%{event.created} %{log.level} [%{service.name}] "
                     "user=%{user} action=%{event.action} "
                     "latency=%{latency} path=%{url.path}"}},
        {"lowercase": {"field": "log.level"}},
        {"lowercase": {"field": "service.name"}},
        {"convert": {"field": "latency", "type": "long"}},
        {"rename": {"field": "user", "target_field": "user.name"}},
        {"gsub": {"field": "url.path", "pattern": "[0-9]+",
                  "replacement": "N"}},
        {"set": {"field": "event.outcome", "value": "slow",
                 "if": f"ctx.latency > {SLOW_MS}"}},
        {"set": {"field": "event.outcome", "value": "fast",
                 "if": f"ctx.latency <= {SLOW_MS}"}},
        {"append": {"field": "tags", "value": ["deep"]}},
        {"pipeline": {"name": "deep-enrich"}},
    ]
    for b in range(blocks):
        main += [
            {"set": {"field": f"attr_{b}", "value": "{{service.name}}-" + str(b),
                     "if": "ctx.log.level != 'debug'"}},
            {"set": {"field": f"tmp_{b}", "value": str(b * 7)}},
            {"convert": {"field": f"tmp_{b}", "type": "integer"}},
            {"rename": {"field": f"tmp_{b}", "target_field": f"num_{b}"}},
            {"gsub": {"field": f"attr_{b}", "pattern": "-", "replacement": "_",
                      "ignore_missing": True}},
            {"uppercase": {"field": f"attr_{b}", "ignore_missing": True,
                           "if": f"ctx.latency > {b * 100}"}},
            {"remove": {"field": f"num_{b}", "if": f"ctx.latency < {b * 50}"}},
        ]
    main.append({"set": {"field": "pipeline.depth", "value": "done"}})
    enrich = [
        {"set": {"field": "labels.team", "value": "core",
                 "if": "ctx.service.name == 'auth' || "
                       "ctx.service.name == 'billing'"}},
        {"set": {"field": "labels.team", "value": "edge",
                 "if": "ctx.labels?.team == null"}},
        {"append": {"field": "tags", "value": ["{{event.action}}"]}},
        {"lowercase": {"field": "event.action"}},
        {"set": {"field": "user.domain", "value": "corp",
                 "if": "ctx.user?.name != null && "
                       "ctx.user.name.startsWith('u1')"}},
    ]
    return {
        "deep-main": {
            "description": "deep integration-style chain",
            "processors": main,
            "on_failure": [{"set": {"field": "error.kind",
                                    "value": "parse_failure"}}],
        },
        "deep-enrich": {"processors": enrich},
    }


def deep_events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Log events; ~10% carry a free-text message that fails dissect."""
    level = LEVELS[rng.integers(0, len(LEVELS), n)]
    service = SERVICES[rng.integers(0, len(SERVICES), n)]
    action = ACTIONS[rng.integers(0, len(ACTIONS), n)]
    user = rng.integers(0, 3000, n)
    latency = rng.integers(0, 2000, n)
    path_a = rng.integers(0, 100, n)
    path_b = rng.integers(0, 10_000, n)
    prose = rng.random(n) < 0.10
    msg = [f"free text note number {path_b[i]}" if prose[i] else
           f"2026-01-01T00:00:{i % 60:02d}Z {level[i]} [{service[i]}] "
           f"user=u{user[i]} action={action[i]} latency={latency[i]} "
           f"path=/v{path_a[i]}/items/{path_b[i]}"
           for i in range(n)]
    return pd.DataFrame({"message": msg, "event_id": np.arange(n),
                         "level": level, "latency": latency, "prose": prose})


def deep_expect(df: pd.DataFrame) -> dict:
    ok = ~df["prose"].to_numpy()
    lat = df["latency"].to_numpy()
    return {"rows": len(df),
            "parse_failure": int((~ok).sum()),
            "slow": int((ok & (lat > SLOW_MS)).sum()),
            "debug": int((ok & (df["level"].to_numpy() == "debug")).sum()),
            "latency_sum": int(lat[ok].sum())}


def deep_input(root: str, seed: int, rows: int, blocks: int,
               files: int) -> tuple[str, dict]:
    def build(d):
        df = deep_events(np.random.default_rng(seed), rows)
        pipes = os.path.join(d, "pipelines")
        os.makedirs(pipes)
        for name, definition in deep_pipelines(blocks).items():
            with open(os.path.join(pipes, f"{name}.json"), "w") as f:
                json.dump(definition, f, indent=1)
        src = os.path.join(d, "input")
        os.makedirs(src)
        table = pa.Table.from_pandas(df[["message", "event_id"]],
                                     preserve_index=False)
        for name, value in (("data_stream.type", "logs"),
                            ("data_stream.dataset", "deep.events"),
                            ("data_stream.namespace", "default")):
            table = table.append_column(name, pa.array([value] * rows))
        for i, part in enumerate(np.array_split(np.arange(rows), files)):
            pq.write_table(table.take(part),
                           os.path.join(src, f"part-{i:03d}.parquet"),
                           compression="zstd")
        n_proc = sum(len(p["processors"]) + len(p.get("on_failure", []))
                     for p in deep_pipelines(blocks).values())
        return {"expect": deep_expect(df), "processors": n_proc,
                "shares": {"prose_share": round(float(df["prose"].mean()), 4)}}
    return _cached(root, f"deep-s{seed}-r{rows}-b{blocks}-f{files}", build)
