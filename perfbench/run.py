"""Benchmark of the ingest engine, end to end and per layer.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones from a traced run.  See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "logstash_filter_elastic_integration_spark"
CACHE = os.path.join(ROOT, ".bench_cache")
WORKLOAD_NAMES = ("bulk_ingest", "stream_microbatch", "deep_chain")
# a batch is not started after this many seconds of the process, so a run
# ends well inside three minutes however slow the host is
HARD_STOP_S = 140.0
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the warm-batch measurement window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the tests use a tiny one)")
    return ap.parse_args(argv)


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def isolate_scratch() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout's cache directory."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def prune(root: str, keep: int) -> None:
    """Drop all but the ``keep`` most recent entries under ``root``."""
    if not os.path.isdir(root):
        return
    entries = sorted((os.path.join(root, e) for e in os.listdir(root)),
                     key=os.path.getmtime, reverse=True)
    for path in entries[keep:]:
        shutil.rmtree(path, ignore_errors=True)


def measured(records: list[dict]) -> list[dict]:
    return [r for r in records
            if r["phase"] == "measured" and not r["traced_run"]]


def end_to_end(records: list[dict], setup_s: float) -> dict:
    warm = measured(records)
    walls = [r["wall"] for r in warm] or [float("nan")]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "first_batch_s": {"value": records[0]["wall"], "unit": "s"},
        "batch_s": {"value": statistics.median(walls), "unit": "s"},
        "events_per_s": {"value": sum(r["events"] for r in warm)
                         / sum(walls), "unit": "events/s"},
    }


def percentile_note(walls: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 20:
        return ""
    p = int(100 * (n - 10) / n)
    q = statistics.quantiles(walls, n=100, method="inclusive")[p - 1]
    return f" p{p}={q:.4f}s"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    isolate_scratch()

    from workloads import WORKLOADS, StealClock
    from tracing import Tracer

    cls = WORKLOADS[args.workload]
    gen0 = time.perf_counter()
    data, meta = cls.inputs(os.path.join(CACHE, "inputs"), args.seed,
                            args.scale)
    gen_s = time.perf_counter() - gen0
    prune(os.path.join(CACHE, "inputs"), keep=6)
    print(f"perfbench inputs: workload={args.workload} seed={args.seed} "
          f"gen_s={gen_s:.2f} {json.dumps(meta.get('shares', {}))}"
          + (f" processors={meta['processors']}" if "processors" in meta
             else ""), flush=True)

    steal = StealClock()
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))
    # one run at a time per checkout: what an earlier, killed run left in
    # the work area goes
    prune(os.path.join(CACHE, "work"), keep=0)
    work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)

    from pyspark import SparkContext, __version__ as pyspark_version
    from logstash_filter_elastic_integration_spark.session import get_spark
    spark = get_spark(
        app_name="perfbench", cores=cores,
        extra_conf={"spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    "-XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - PROCESS_START - gen_s
    try:
        return measure(args, spark, cls, data, meta, work, tracer, cores,
                       session_s, steal, pyspark_version)
    finally:
        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        steal.close()


def measure(args, spark, cls, data, meta, work, tracer, cores, session_s,
            steal, pyspark_version) -> int:
    from tracing import count_py4j, patched
    from layers import per_layer, trace_targets, unit
    from workloads import Schedule

    workload = cls(spark, data, meta, work, tracer)
    reps, register = [], []
    with patched(tracer, trace_targets() if args.trace else []), \
            count_py4j(tracer) if args.trace else nullcontext():
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            n0 = len(tracer.spans)
            workload.setup()
            reps.append(time.perf_counter() - t0)
            register += [s["end"] - s["start"] for s in tracer.spans[n0:]
                         if s["name"] == "engine.register"]
        setup_s = session_s + statistics.median(reps)
        stop_by = time.time() + HARD_STOP_S - (time.perf_counter()
                                               - PROCESS_START)
        records = workload.run(Schedule(args.seconds, 4 if args.trace else 1,
                                        stop_by, steal))
    for r in records:
        r["traced_run"] = bool(args.trace) and r["traced"]
        r["steal_share"] = steal.share(r["start"], r["end"])
    steal_s = steal.between(steal.samples[0][0], time.time())
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    rss = peak_rss_mb(jvm_pid) + peak_rss_mb("self")

    failed = sum(1 for r in records if not r["ok"])
    metrics = end_to_end(records, setup_s)
    warm_walls = [r["wall"] for r in measured(records)]
    print(f"perfbench host: nproc={cores} local[{cores}] "
          f"pyspark={pyspark_version} python={sys.version.split()[0]} "
          f"driver_mem={os.environ['SPARK_DRIVER_MEM']} "
          f"host.steal_s={steal_s:.2f} driver_peak_rss_mb={rss:.0f}",
          flush=True)
    print(f"perfbench {args.workload}: "
          + " ".join(f"{k}={v['value']:.4f} {v['unit']}"
                     for k, v in metrics.items())
          + f" (batch_s over n={len(warm_walls)} measured warm batches"
          + percentile_note(warm_walls) + ": "
          + " ".join(f"{r['wall']:.3f}@{r['steal_share']:.1%}"
                     for r in measured(records))
          + f"; warm-up {sum(r['phase'] == 'warmup' for r in records)}"
          + " batches)"
          + f" failed_op_ratio={failed}/{len(records)}="
          + f"{failed / len(records):.4f} ratio", flush=True)
    if args.trace:
        every, metrics = per_layer(spark, tracer, records, cores, {
            "session.start_s": session_s,
            "session.driver_peak_rss_mb": rss,
            "engine.register_s": statistics.median(register),
            "host.steal_s": steal_s})
        path = os.path.join(CACHE, "traces",
                            f"{args.workload}-s{args.seed}.json")
        prune(os.path.dirname(path), keep=6)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": tracer.spans, "records": records}, f,
                      default=str)
        print(f"perfbench layers (spans in {path}): " + " ".join(
            f"{k}=" + ("n/a" if v is None else f"{v:.6g}") + f" {unit(k)}"
            for k, v in every.items()), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(records),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
