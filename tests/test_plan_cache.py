"""Focused pins for the compile path, which keeps no compile cache.

- Router.execute compiles the plan it is given: a re-read of a grown
  input is seen, and a fresh flagship compile runs no Spark job within a
  py4j budget;
- the driver-contract queries build a new plan on every call: a re-read
  of grown tables gives larger results, including the queries that share
  the minhash-LSH core;
- user_agent compiles the regex bank the file holds now: an edited
  regex_file is seen on the next build.
"""

from __future__ import annotations

import os

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
    job (dims are LocalRelations deduped on the driver) and at most 3,000
    py4j round trips (PySpark origin capture is off in the session).

    Deletes of Java objects freed by earlier work (py4j's ``m\\nd\\n``
    memory command) are not the compile's own calls and are not counted:
    how many of them land inside the compile depends on when the Python
    garbage collector runs."""
    import gc

    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

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

    delete = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    def counting_send(self, command, *a, **kw):
        if not command.startswith(delete):
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
    assert calls[0] <= 3000, calls[0]
    assert "__sink" in out.columns


def _grown_sf(spark, tmp_path):
    """Copies of the sf documents/events tables as parquet directories, and
    a function that appends one more copy of each with fresh ids (and, for
    documents, fresh words so every appended text is new)."""
    sf = str(tmp_path / "sf")
    src = {t: spark.read.parquet(f"{SF}/{t}.parquet")
           for t in ("documents", "events")}
    for t, df in src.items():
        df.write.parquet(f"{sf}/{t}.parquet")

    def grow():
        docs = src["documents"]
        off = docs.agg(F.max("doc_id")).first()[0] + 1
        docs.withColumn("doc_id", F.col("doc_id") + off) \
            .withColumn("text", F.regexp_replace("text", r"(\S+)", "z$1")) \
            .write.mode("append").parquet(f"{sf}/documents.parquet")
        ev = src["events"]
        off = ev.agg(F.max("event_id")).first()[0] + 1
        ev.withColumn("event_id", F.col("event_id") + off) \
            .write.mode("append").parquet(f"{sf}/events.parquet")

    return sf, grow


def test_queries_see_appended_rows(spark, tmp_path):
    """Building a query again over grown tables sees the new rows (a
    compile memo gated by Catalyst sameResult, which matches a parquet
    read by its root path, once returned the first build's plan and so
    its file listing)."""
    sf, grow = _grown_sf(spark, tmp_path)
    names = ("dedup_exact", "sessionize", "pipe_grok_typed",
             "dedup_minhash_lsh")
    before = {n: Q.QUERIES[n](spark, sf).count() for n in names}
    grow()
    after = {n: Q.QUERIES[n](spark, sf).count() for n in names}
    assert {n: after[n] > before[n] > 0 for n in names} \
        == dict.fromkeys(names, True), (before, after)
    doubled = names[:3]
    assert ({n: after[n] for n in doubled}
            == {n: 2 * before[n] for n in doubled})


_UA_BANK = """
user_agent_parsers:
  - regex: '(Foo)/(\\d+)'
    family_replacement: '{family}'
os_parsers: []
device_parsers: []
"""


def test_user_agent_sees_edited_regex_file(spark, tmp_path):
    """A rewritten regex_file gives the new family on the next build."""
    from logstash_filter_elastic_integration_spark.plans.pipeline import (
        run_pipeline)

    bank = tmp_path / "regexes.yaml"
    reg = PipelineRegistry()
    reg.register("ua", {"processors": [
        {"user_agent": {"field": "ua", "regex_file": str(bank)}}]})
    df = spark.createDataFrame([("Foo/7",)], "ua string")

    def family():
        return run_pipeline(df, "ua", reg).first()["user_agent.name"]

    bank.write_text(_UA_BANK.format(family="FamA"))
    assert family() == "FamA"
    bank.write_text(_UA_BANK.format(family="FamB"))
    assert family() == "FamB"
