"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Tiny-size runs of every workload (a few minutes in all, each starts its
own Spark), a run whose expected sink count is wrong on purpose, the
refusal to run without the engine beside it, and unit checks of the
pieces that need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
from tracing import Tracer, parse_metric  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
TINY = 0.02


def run_bench(workload: str, seed: int, trace: int, cwd: str = ROOT,
              scale: float = TINY):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--scale", str(scale)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc, lines


@pytest.mark.parametrize("workload",
                         ["bulk_ingest", "stream_microbatch", "deep_chain"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    proc, lines = run_bench(workload, seed=7, trace=trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    summary = next(line for line in lines
                   if line.startswith(f"perfbench {workload}:"))
    for name, unit in (("setup_s", "s"), ("first_batch_s", "s"),
                       ("batch_s", "s"), ("events_per_s", "events/s"),
                       ("failed_op_ratio", "ratio")):
        assert f"{name}=" in summary and f" {unit}" in summary, name
    host = next(line for line in lines if line.startswith("perfbench host:"))
    for key in ("nproc=", "pyspark=", "host.steal_s="):
        assert key in host
    if trace:
        layers = next(line for line in lines
                      if line.startswith("perfbench layers"))
        for name in ("jobs.overhead_s", "streaming.trigger_ms",
                     "streaming.add_batch_ms", "streaming.offsets_ms",
                     "executor.python_eval_ms", "executor.scan_ms",
                     "executor.spill_bytes", "host.steal_s",
                     *(m["name"] for m in BENCH["per_layer"])):
            assert f"{name}=" in layers, name


def test_wrong_sink_count_is_a_failed_operation():
    seed = 990_001
    cache = os.path.join(ROOT, ".bench_cache", "inputs")
    rows = max(200, int(40_000 * TINY))
    data, meta = inputs.bulk_input(cache, seed, rows, 8)
    try:
        meta["expect"]["sinks"][inputs.TOOLS_SINK] += 1
        with open(os.path.join(data, "meta.json"), "w") as f:
            json.dump(meta, f)
        proc, lines = run_bench("bulk_ingest", seed=seed, trace=0)
        assert proc.returncode == 0, proc.stderr[-4000:]
        result = json.loads(lines[-1])
        assert result["correct"] is False
        assert result["failed"] == result["attempted"] >= 2
        assert "output mismatch" in proc.stderr
        assert f"failed_op_ratio={result['failed']}/" in "\n".join(lines)
    finally:
        shutil.rmtree(data, ignore_errors=True)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc, lines = run_bench("bulk_ingest", seed=1, trace=0,
                            cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in lines)


def test_inputs_are_seeded_and_expectations_recount(tmp_path):
    a = inputs.transcripts(inputs.np.random.default_rng(3), 2000)
    b = inputs.transcripts(inputs.np.random.default_rng(3), 2000)
    c = inputs.transcripts(inputs.np.random.default_rng(4), 2000)
    assert a.equals(b) and not a.equals(c)
    exp = inputs.flagship_expect(a)
    prose = a["text"].str.startswith("please ")
    tools = (a["role"] == "tool") & ~prose
    assert exp["failed"] == int(prose.sum())
    assert exp["sinks"][inputs.TOOLS_SINK] == int(tools.sum())
    assert sum(exp["sinks"].values()) == len(a)
    shares = inputs.shares(a)
    assert abs(shares["prose_share"] - 0.20) < 0.03
    _, meta1 = inputs.bulk_input(str(tmp_path), 3, 2000, 4)
    _, meta2 = inputs.bulk_input(str(tmp_path), 3, 2000, 4)  # cached
    assert meta1 == meta2 and meta1["expect"] == exp


def test_parse_metric_forms():
    assert parse_metric("12 ms") == 12.0
    assert parse_metric("1.5 KiB") == 1536.0
    assert parse_metric("100,000") == 100000.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "4.3 s (1.0 s, 1.1 s, 1.1 s (stage 0.0: task 2))"
                        ) == pytest.approx(4300.0)
    assert parse_metric(None) == 0.0


def test_self_times_subtract_children():
    t = Tracer()
    t.trace_id = 1
    with t.span("batch") as root:
        with t.span("router.execute") as child:
            pass
    root["start"], root["end"] = 0.0, 10.0
    child["start"], child["end"] = 2.0, 5.0
    own = t.self_times(1)
    assert own == {"batch": pytest.approx(7.0),
                   "router.execute": pytest.approx(3.0)}
    t.enabled = False
    with t.span("ignored"):
        pass
    assert len(t.spans) == 2


def test_source_log_counts_a_compacted_file_once(tmp_path):
    from workloads import source_log
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(i):
        return json.dumps({"path": f"file:///in/part-{i:05d}.parquet",
                           "timestamp": 0, "batchId": i // 8})
    for b in range(10):
        (log / str(b)).write_text(
            "v1\n" + "\n".join(entry(b * 8 + k) for k in range(8)))
    (log / "9.compact").write_text(
        "v1\n" + "\n".join(entry(i) for i in range(80)))
    got = source_log(str(tmp_path))
    assert len(got) == 80
    assert got["part-00079.parquet"] == 9 and got["part-00000.parquet"] == 0
