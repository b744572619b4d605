"""Focused pins for the compile path and the remaining compile caches.

- Router.execute keeps no plan cache: a re-read of a grown input is seen,
  and a fresh flagship compile runs no Spark job within a py4j budget;
- _pipe's compiled-pipeline cache hits on identical (spec, input) and
  misses when the processor spec changes;
- the pure-plan query memo wraps exactly the whitelisted builders —
  queries with data-derived driver work (ann_ivf training, the
  dedup_clusters convergence loop, dedup_ngram_jaccard's eager
  checkpoint/persist, stream_*) must stay unwrapped;
- a cache hit still RECOMPUTES on action: mutating the underlying data
  between actions changes the result of the cached frame.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logstash_filter_elastic_integration_spark import queries as Q
from logstash_filter_elastic_integration_spark.plans.pipeline import (
    PipelineRegistry,
)
from logstash_filter_elastic_integration_spark.router import Router

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _mini_router():
    reg = PipelineRegistry()
    reg.register("p", {"processors": [
        {"set": {"field": "mark", "value": "x"}}]})
    return Router(registry=reg, routing={"logs-a-default": "p"})


def test_router_reexecute_sees_appended_files(spark, tmp_path):
    """Executing the same Router over a re-read of a grown directory sees
    the new files: Router.execute compiles the plan it is given and keeps
    nothing from an earlier call (a plan cache gated by Catalyst
    sameResult once replayed the first call's file listing here)."""
    p = str(tmp_path / "src")
    rows = spark.range(5).withColumn("_index", F.lit("logs-a-default"))
    rows.write.mode("overwrite").parquet(p)
    r = _mini_router()
    assert r.execute(spark.read.parquet(p)).count() == 5
    spark.range(5, 8).withColumn("_index", F.lit("logs-a-default")) \
        .write.mode("append").parquet(p)
    assert r.execute(spark.read.parquet(p)).count() == 8


def test_fresh_flagship_compile_budget(spark, tmp_path, monkeypatch):
    """A fresh flagship Router.execute is a driver-only compile: no Spark
    job (dims are LocalRelations deduped on the driver) and at most 4,000
    py4j round trips (PySpark origin capture is off in the session)."""
    import gc

    from py4j.clientserver import ClientServerConnection

    from logstash_filter_elastic_integration_spark.flagship import (
        build_router, with_datastream)
    from logstash_filter_elastic_integration_spark.sources.datagen import (
        transcripts)

    p = str(tmp_path / "transcripts")
    transcripts(spark, 10_000).write.mode("overwrite").parquet(p)
    tdf = with_datastream(spark.read.parquet(p))
    router = build_router(spark)

    calls = [0]
    send = ClientServerConnection.send_command

    def counting_send(self, command, *a, **kw):
        calls[0] += 1
        return send(self, command, *a, **kw)

    sc = spark.sparkContext
    gc.collect()
    sc.setJobGroup("fresh-compile", "fresh flagship compile")
    monkeypatch.setattr(ClientServerConnection, "send_command",
                        counting_send)
    try:
        out = router.execute(tdf)
    finally:
        monkeypatch.undo()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fresh-compile")) == []
    assert calls[0] <= 4000, calls[0]
    assert "__sink" in out.columns


def test_pipe_cache_hit_and_spec_miss(spark):
    df = spark.range(7).select(F.col("id").cast("string").alias("v"))
    spec = [{"set": {"field": "m", "value": "a"}}]
    out1 = Q._pipe(spark, df, spec)
    out2 = Q._pipe(spark, df, [{"set": {"field": "m", "value": "a"}}])
    assert out1 is out2  # equal spec + sameResult input
    out3 = Q._pipe(spark, df, [{"set": {"field": "m", "value": "B"}}])
    assert out3 is not out1
    assert [r["m"] for r in out3.limit(1).collect()] == ["B"]


def test_pure_plan_memo_whitelist_is_exact():
    wrapped = {n for n, f in Q.QUERIES.items() if hasattr(f, "__wrapped__")}
    assert wrapped == set(Q._PURE_PLAN_TABLES)
    # data-derived builders must never be memoized
    for name in ("ann_ivf", "dedup_clusters", "dedup_ngram_jaccard",
                 "stream_window", "stream_dedup", "stream_flagship"):
        assert name not in wrapped


@pytest.mark.parametrize("name", ["dedup_simhash", "doc_quality"])
def test_pure_plan_memo_reuses_lazy_frame(spark, name):
    d1 = Q.QUERIES[name](spark, SF)
    d2 = Q.QUERIES[name](spark, SF)
    assert d1 is d2
    # the frame is lazy (an action still runs the full computation)
    assert d1.count() > 0
