"""Per-layer metrics of a traced run: which engine calls get spans, and
how spans, stream progress and Spark's status stores become the metrics
listed under ``per_layer`` in BENCHMARK.json."""

from __future__ import annotations

import statistics

from tracing import catalyst_phases, spark_usage

LAYERS = ("bench", "engine", "router", "jobs", "streaming", "sources")


def trace_targets():
    """(owner, attribute, span name) for every engine call a traced run
    wraps.  Calls the benchmark makes itself get spans in workloads.py."""
    from logstash_filter_elastic_integration_spark.metrics import RunMetrics
    from logstash_filter_elastic_integration_spark.router import Router
    from logstash_filter_elastic_integration_spark.sources.catalog import (
        Catalog)
    from logstash_filter_elastic_integration_spark.sources.checkpoint import (
        CheckpointManifest)
    return [
        (Router, "execute", "router.execute"),
        (Router, "write_fanout", "router.write_fanout"),
        (Router, "sink_counts", "router.sink_counts"),
        (Catalog, "write", "sources.write"),
        (Catalog, "read", "sources.read"),
        (CheckpointManifest, "input_files", "jobs.listing"),
        (CheckpointManifest, "mark_done", "jobs.mark_done"),
        (RunMetrics, "write_lineage", "jobs.lineage"),
    ]


def _layer(span_name: str) -> str:
    head = span_name.split(".", 1)[0]
    return head if head in LAYERS else "bench"


def _batch_metrics(tracer, rec: dict, usage: dict, cores: int) -> dict:
    i = rec["id"]
    spans = [s for s in tracer.spans if s["trace"] == i]
    dur = {}
    for s in spans:
        dur[s["name"]] = dur.get(s["name"], 0.0) + s["end"] - s["start"]
    # the sink_counts aggregate runs when its frame is written
    sink_counts = dur.get("router.sink_counts", 0.0) + sum(
        s["end"] - s["start"] for s in spans if s["name"] == "sources.write"
        and str(s.get("arg", "")).startswith("sink_counts"))
    m = {
        "router.execute_s": dur.get("router.execute", 0.0),
        "router.execute_py4j_calls": tracer.calls(i, "router.execute"),
        "router.write_fanout_s": dur.get("router.write_fanout", 0.0),
        "router.sink_counts_s": sink_counts,
        "jobs.overhead_s": max(0.0, dur.get("jobs.run_batch", 0.0)
                               - dur.get("router.execute", 0.0)
                               - dur.get("router.write_fanout", 0.0)
                               - sink_counts)
        if "jobs.run_batch" in dur else 0.0,
    }
    progress = rec.get("progress") or {}
    m["streaming.trigger_ms"] = float(progress.get("triggerExecution", 0))
    m["streaming.add_batch_ms"] = float(progress.get("addBatch", 0))
    m["streaming.offsets_ms"] = float(sum(progress.get(k, 0) for k in (
        "latestOffset", "walCommit", "commitOffsets")))
    m.update(usage)
    m["executor.busy_share"] = usage["executor.run_s"] / (cores * rec["wall"])
    own = tracer.self_times(i)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(v for k, v in own.items()
                                   if _layer(k) == layer)
    m["trace.blocking_sum_s"] = sum(own.values())
    return m


def per_layer(spark, tracer, records: list[dict], cores: int,
              per_run: dict) -> tuple[dict, dict]:
    """Medians over the traced warm batches, plus per-run figures and the
    tracing overhead against the run's untraced warm batches.  Returns
    (every metric, with None where the workload lacks the layer; the
    ``JSON_METRICS`` subset in result form)."""
    traced = [r for r in records if r["traced_run"]]
    for r in traced:
        if r.get("progress") is not None:  # stream: the trigger is the root
            tracer.add_root("streaming.trigger", r["id"], r["start"],
                            r["end"])
    usage = spark_usage(spark, {r["id"]: (r["start"], r["end"])
                                for r in traced})
    warm = [r for r in traced if r["phase"] == "measured"] or traced
    rows = []
    for r in warm:
        m = _batch_metrics(tracer, r, usage[r["id"]], cores)
        frame = tracer.frames.get(r["id"])
        m.update(catalyst_phases(spark, frame) if frame is not None else
                 dict.fromkeys(("catalyst.optimization_ms",
                                "catalyst.planning_ms",
                                "plans.analyzed_nodes"), 0.0))
        rows.append(m)
    out = {k: statistics.median(m[k] for m in rows) for k in rows[0]}
    untraced = [r["wall"] for r in records
                if r["phase"] == "measured" and not r["traced_run"]]
    traced_wall = statistics.median(r["wall"] for r in warm)
    base = statistics.median(untraced) if untraced else traced_wall
    out["trace.untraced_batch_s"] = base
    out["trace.overhead_s"] = traced_wall - base
    out["trace.coverage"] = out["trace.blocking_sum_s"] / base
    out["self.orchestration_s"] = sum(out[f"self.{layer}_s"] for layer in
                                      ("bench", "jobs", "streaming"))
    out.update(per_run)
    streamed = any(r.get("progress") is not None for r in warm)
    for k in ("streaming.trigger_ms", "streaming.add_batch_ms",
              "streaming.offsets_ms"):
        out[k] = out[k] if streamed else None
    if not any(s["name"] == "jobs.run_batch" for s in tracer.spans):
        out["jobs.overhead_s"] = None
    result = {k: {"value": out[k], "unit": unit(k)} for k in JSON_METRICS}
    return dict(sorted(out.items())), result


# the per_layer metrics of BENCHMARK.json: those every listed workload
# measures.  The rest (jobs.overhead_s and streaming.* exist on one
# workload; scan, Python-eval and spill time read 0 on the flagship;
# host.steal_s is 0 on an unshared host; trace.coverage has no better
# direction) are printed, not returned.
JSON_METRICS = (
    "session.start_s", "session.driver_peak_rss_mb", "engine.register_s",
    "router.execute_s", "router.execute_py4j_calls", "router.write_fanout_s",
    "router.sink_counts_s", "catalyst.optimization_ms",
    "catalyst.planning_ms", "plans.analyzed_nodes", "executor.jobs",
    "executor.tasks", "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.shuffle_write_bytes", "executor.busy_share", "executor.wscg_ms",
    "sources.files_written", "sources.bytes_written", "self.router_s",
    "self.sources_s", "self.orchestration_s", "trace.blocking_sum_s",
    "trace.untraced_batch_s", "trace.overhead_s",
)


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name == "sources.bytes_written":
        return "bytes"
    if name in ("executor.busy_share", "trace.coverage"):
        return "ratio"
    return "count"
