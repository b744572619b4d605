"""The benchmark's workloads.  Each drives the engine only through its
public entry points and checks every batch's output against the
expectations ``inputs`` computed without the engine.

A workload has ``inputs(cache, seed, scale)`` to make its seeded input,
``setup()`` (pipeline registration and input listing, timed by the
caller), and ``run(schedule)`` returning one record per batch:
``{"id", "phase", "start", "end", "wall", "events", "ok", "traced"}``.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import shutil
import sys
import threading
import time
import traceback

from pyspark.sql import functions as F

import inputs as I

from logstash_filter_elastic_integration_spark import flagship
from logstash_filter_elastic_integration_spark.engine import SparkIngestFilter
from logstash_filter_elastic_integration_spark.jobs import run_batch
from logstash_filter_elastic_integration_spark.sources.catalog import Catalog
from logstash_filter_elastic_integration_spark.sources.datagen import (
    role_dim, tool_dim)
from logstash_filter_elastic_integration_spark.streaming import stream_pipeline

FAILURE_TAG = "_ingest_pipeline_failure"
STOP = "perfbench-window-closed"


# warm-up after the cold batch, before the window opens: the JIT is still
# compiling the hot paths for the first several warm batches, and that
# trend (slower on a busier host) would otherwise dominate the spread
WARMUP_S = 12.0
# On a shared host, other guests' load shows as CPU steal and slows the
# py4j-bound compile far more than its share of CPU: a batch under 9%
# steal took 1.5x as long.  Warm-up therefore goes on, for at most
# QUIET_WAIT_S more, until the last QUIET_SPAN_S had less than QUIET_SHARE
# of the cores' time stolen.
QUIET_SHARE, QUIET_SPAN_S, QUIET_WAIT_S = 0.03, 3.0, 6.0


def _read_steal() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class StealClock:
    """Host CPU steal seconds (time the hypervisor ran another guest while
    this one was runnable), sampled from /proc/stat by a daemon thread so
    that any interval of the run can be looked up afterwards."""

    PERIOD_S = 0.25

    def __init__(self):
        self.cores = len(os.sched_getaffinity(0))
        self.samples = [(time.time(), _read_steal())]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.samples.append((time.time(), _read_steal()))

    def at(self, t: float) -> float:
        samples = list(self.samples)
        i = bisect.bisect_left(samples, (t,))
        if i == 0:
            return samples[0][1]
        if i == len(samples):
            return samples[-1][1]
        (t0, s0), (t1, s1) = samples[i - 1], samples[i]
        return s0 + (s1 - s0) * (t - t0) / max(t1 - t0, 1e-9)

    def between(self, a: float, b: float) -> float:
        return self.at(b) - self.at(a)

    def share(self, a: float, b: float) -> float:
        """Stolen share of the cores' time in [a, b]."""
        return self.between(a, b) / max((b - a) * self.cores, 1e-9)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


class Schedule:
    """Phases of a run's batches.  Batch 0 is cold.  Warm-up batches start
    for ``WARMUP_S`` after it, and then while the host is busy (see
    QUIET_SHARE).  Measured batches start for ``seconds`` after that, at
    least ``min_measured`` of them.  No batch starts after the epoch time
    ``stop_by``.  In a traced run the cold batch is traced and the measured
    ones go untraced, traced, traced, untraced (ABBA), so any trend falls
    on both sides of the tracing-overhead comparison."""

    def __init__(self, seconds: float, min_measured: int, stop_by: float,
                 steal: StealClock):
        self.seconds, self.min_measured = seconds, min_measured
        self.stop_by, self.steal = stop_by, steal
        self.warmup_end = self.deadline = None
        self.measured = 0
        self.phase: dict[int, str] = {}
        self.traced: dict[int, bool] = {}

    def next(self, i: int) -> str | None:
        """The phase batch ``i`` starts in now, or None to stop."""
        now = time.time()
        if i == 0:
            phase = "cold"
        elif now >= self.stop_by:
            return None
        elif self.deadline is None:
            if self.warmup_end is None:
                self.warmup_end = now + WARMUP_S
            busy = (now < self.warmup_end + QUIET_WAIT_S
                    and self.steal.share(now - QUIET_SPAN_S, now)
                    > QUIET_SHARE)
            if now < self.warmup_end or busy:
                phase = "warmup"
            else:
                self.deadline = now + self.seconds
                phase = "measured"
        elif self.measured < self.min_measured or now < self.deadline:
            phase = "measured"
        else:
            return None
        if phase == "measured":
            self.measured += 1
        self.phase[i] = phase
        self.traced[i] = phase == "cold" or (
            phase == "measured" and self.measured % 4 in (2, 3))
        return phase


def _warn(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class _Looped:
    """Batches run one after another from the benchmark's own loop, as
    long as the schedule lets them start."""

    def __init__(self, spark, data: str, meta: dict, work: str, tracer):
        self.spark, self.data, self.meta = spark, data, meta
        self.work, self.tracer = work, tracer
        self.input = os.path.join(data, "input")

    def run(self, schedule: Schedule) -> list[dict]:
        records, i = [], 0
        while (phase := schedule.next(i)) is not None:
            records.append(self._one(i, phase, schedule.traced[i]))
            i += 1
        return records

    def _one(self, i: int, phase: str, traced: bool) -> dict:
        tr = self.tracer
        tr.trace_id, tr.enabled = i, traced and tr.active
        out = os.path.join(self.work, f"b{i}")
        start = time.time()
        try:
            with tr.span("batch"):
                self.batch(out)
            ok = None
        except Exception:
            _warn(f"batch {i} raised:\n{traceback.format_exc()}")
            ok = False
        end = time.time()
        tr.enabled = False
        if ok is None:
            try:
                ok = self.check(out)
            except Exception:
                _warn(f"check of batch {i} raised:\n{traceback.format_exc()}")
                ok = False
        shutil.rmtree(out, ignore_errors=True)
        return {"id": i, "phase": phase, "start": start, "end": end,
                "wall": end - start, "events": self.meta["expect"]["rows"],
                "ok": ok, "traced": traced}


class BulkIngest(_Looped):
    """``jobs.run_batch`` with a fresh flagship ``build_router`` per batch
    over one directory of transcript files."""

    ROWS, FILES = 40_000, 8

    @classmethod
    def inputs(cls, cache: str, seed: int, scale: float):
        return I.bulk_input(cache, seed, max(200, int(cls.ROWS * scale)),
                            cls.FILES)

    def setup(self) -> None:
        with self.tracer.span("engine.register"):
            flagship.build_router(self.spark)
        with self.tracer.span("sources.list"):
            self.spark.read.parquet(self.input).inputFiles()

    def batch(self, out: str) -> None:
        with self.tracer.span("router.build"):
            router = flagship.build_router(self.spark)
        with self.tracer.span("jobs.run_batch"):
            run_batch(self.spark, router, self.input,
                      os.path.join(out, "wh"), os.path.join(out, "run"),
                      prepare_df=flagship.with_datastream)

    def check(self, out: str) -> bool:
        exp = self.meta["expect"]
        with open(os.path.join(out, "run", "lineage.json")) as f:
            stage = json.load(f)["stages"]["pipeline"]
        sinks = {r["sink"]: r["n"] for r in
                 Catalog(self.spark, os.path.join(out, "wh"))
                 .read("sink_counts").groupBy("sink")
                 .agg(F.sum("n").alias("n")).collect()}
        got = {"rows": stage["rows"], "failed": stage["failed"],
               "sinks": sinks}
        if got != exp:
            _warn(f"bulk_ingest output mismatch: got {got}, expected {exp}")
        return got == exp


class DeepChain(_Looped):
    """``SparkIngestFilter`` over a directory of benchmark-written deep
    pipelines, then ``Router.write_fanout``, on a small batch."""

    ROWS, BLOCKS, FILES = 10_000, 8, 2

    @classmethod
    def inputs(cls, cache: str, seed: int, scale: float):
        return I.deep_input(cache, seed, max(200, int(cls.ROWS * scale)),
                            cls.BLOCKS, cls.FILES)

    def _engine(self) -> SparkIngestFilter:
        return SparkIngestFilter(pipelines=os.path.join(self.data, "pipelines"),
                                 routing=dict(I.DEEP_ROUTING))

    def setup(self) -> None:
        with self.tracer.span("engine.register"):
            self._engine()
        with self.tracer.span("sources.list"):
            self.spark.read.parquet(self.input).inputFiles()

    def batch(self, out: str) -> None:
        engine = self._engine()  # a fresh Router every batch
        with self.tracer.span("sources.read"):
            df = self.spark.read.parquet(self.input)
        with self.tracer.span("engine.filter"):
            executed = engine.filter(df)
        engine.router.write_fanout(executed, Catalog(self.spark, out))

    def check(self, out: str) -> bool:
        exp = self.meta["expect"]
        row = (self.spark.read.parquet(os.path.join(out, "sinks"))
               .agg(F.count(F.lit(1)).alias("rows"),
                    F.count(F.when(F.col("`error.kind`") == "parse_failure",
                                   1)).alias("parse_failure"),
                    F.count(F.when(F.col("`event.outcome`") == "slow",
                                   1)).alias("slow"),
                    F.count(F.when(F.col("`log.level`") == "debug",
                                   1)).alias("debug"),
                    F.sum("latency").alias("latency_sum"))
               .collect()[0].asDict())
        row["latency_sum"] = int(row["latency_sum"] or 0)
        if row != exp:
            _warn(f"deep_chain output mismatch: got {row}, expected {exp}")
        return row == exp


class StreamMicrobatch:
    """``stream_pipeline(availableNow)`` with the flagship pipelines,
    registered from a JSON directory through ``SparkIngestFilter``, over a
    backlog of small files (8 per micro-batch).  Closed loop: each
    micro-batch starts when the previous one commits."""

    BATCH_ROWS, FILES_PER_BATCH, BACKLOG = 20_000, 8, 30

    def __init__(self, spark, data: str, meta: dict, work: str, tracer):
        self.spark, self.data, self.meta = spark, data, meta
        self.work, self.tracer = work, tracer
        self.input = os.path.join(data, "input")
        self.pipelines = os.path.join(work, "pipelines")
        os.makedirs(self.pipelines, exist_ok=True)
        for name, definition in (("transcripts-root", flagship.ROOT_PIPELINE),
                                 ("transcripts-tools",
                                  flagship.TOOLS_PIPELINE)):
            with open(os.path.join(self.pipelines, f"{name}.json"), "w") as f:
                json.dump(definition, f)

    @classmethod
    def inputs(cls, cache: str, seed: int, scale: float):
        return I.stream_input(cache, seed, cls.BACKLOG,
                              max(cls.FILES_PER_BATCH,
                                  int(cls.BATCH_ROWS * scale)),
                              cls.FILES_PER_BATCH)

    def setup(self) -> None:
        with self.tracer.span("engine.register"):
            self.engine = SparkIngestFilter(
                pipelines=self.pipelines, routing=dict(flagship.ROUTING),
                dims={"role_dim": role_dim(self.spark),
                      "tool_dim": tool_dim(self.spark)})
        with self.tracer.span("sources.list"):
            self.schema = self.spark.read.parquet(self.input).schema

    def run(self, schedule: Schedule) -> list[dict]:
        tr, router = self.tracer, self.engine.router

        class Proxy:
            """Ends the query between micro-batches once the schedule says
            stop, and tags each micro-batch's spans with its batch id."""
            write_fanout = staticmethod(router.write_fanout)
            sink_counts = staticmethod(router.sink_counts)

            def execute(self, batch_df):
                i = len(schedule.phase)
                if schedule.next(i) is None:
                    raise RuntimeError(STOP)
                tr.trace_id = i
                tr.enabled = tr.active and schedule.traced[i]
                return router.execute(batch_df)

        wh, ck = os.path.join(self.work, "wh"), os.path.join(self.work, "ck")
        started = time.time()
        query = stream_pipeline(self.spark, self.input, self.schema, Proxy(),
                                Catalog(self.spark, wh), ck)
        crashed = None
        try:
            if not query.awaitTermination(
                    max(1.0, schedule.stop_by + 30 - started)):
                _warn("stream query did not end in time; stopping it")
                query.stop()
                crashed = time.time()
        except Exception as e:  # the window closing ends the query
            if STOP not in str(e):
                _warn(f"stream query failed:\n{e}")
                crashed = time.time()
        tr.enabled = False
        records = []
        for p in query.recentProgress:
            i = p["batchId"]
            start = _epoch(p["timestamp"])
            wall = p["durationMs"]["triggerExecution"] / 1000.0
            if i == 0:  # cold: counted from the query start
                start, wall = started, start + wall - started
            records.append({"id": i, "phase": schedule.phase[i],
                            "start": start, "end": start + wall,
                            "wall": wall, "events": p["numInputRows"],
                            "ok": None, "traced": schedule.traced[i],
                            "progress": p["durationMs"]})
        self._check(records, wh, ck)
        if crashed is not None:  # the micro-batch that raised
            start = records[-1]["end"] if records else started
            records.append({"id": len(records), "phase": "measured",
                            "start": start, "end": crashed,
                            "wall": crashed - start, "events": 0,
                            "ok": False, "traced": False})
        return records

    def _check(self, records: list[dict], wh: str, ck: str) -> None:
        expected: dict[int, dict] = {}
        for name, batch in source_log(ck).items():
            e = self.meta["expect_per_file"][name]
            acc = expected.setdefault(batch, {
                "rows": 0, "failed": 0,
                "sinks": {I.TURNS_SINK: 0, I.TOOLS_SINK: 0}})
            acc["rows"] += e["rows"]
            acc["failed"] += e["failed"]
            for sink, n in e["sinks"].items():
                acc["sinks"][sink] += n
        base = os.path.join(wh, "sinks_stream")
        got: dict[int, dict] = {}
        paths = sorted(glob.glob(os.path.join(base, "batch=*")))
        rows = (self.spark.read.option("basePath", base).parquet(*paths)
                .groupBy("batch", "__sink")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.count(F.when(F.array_contains("tags", FAILURE_TAG),
                                    1)).alias("failed"))
                .collect()) if paths else []
        for r in rows:
            acc = got.setdefault(r["batch"], {"rows": 0, "failed": 0,
                                              "sinks": {}})
            acc["rows"] += r["n"]
            acc["failed"] += r["failed"]
            acc["sinks"][r["__sink"]] = r["n"]
        for rec in records:
            exp, have = expected.get(rec["id"]), got.get(rec["id"])
            if have is not None:
                have["sinks"] = {**{s: 0 for s in exp["sinks"]},
                                 **have["sinks"]} if exp else have["sinks"]
            rec["ok"] = exp is not None and have == exp
            if not rec["ok"]:
                _warn(f"stream batch {rec['id']} output mismatch: "
                      f"got {have}, expected {exp}")


def source_log(ck: str) -> dict[str, int]:
    """Input file name -> micro-batch id, from a file-source stream's
    checkpoint.  A compacted log file (``9.compact``) repeats the entries
    of the files it compacts."""
    assigned: dict[str, int] = {}
    for log in glob.glob(os.path.join(ck, "sources", "0", "*")):
        with open(log) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    assigned[os.path.basename(entry["path"])] = \
                        entry["batchId"]
    return assigned


def _epoch(iso: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WORKLOADS = {
    "bulk_ingest": BulkIngest,
    "stream_microbatch": StreamMicrobatch,
    "deep_chain": DeepChain,
}
