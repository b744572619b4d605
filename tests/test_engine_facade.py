from logstash_filter_elastic_integration_spark.engine import SparkIngestFilter


def test_sprintf_template_resolution_and_none_bypass(spark):
    eng = SparkIngestFilter(
        pipelines={"svc-a": {"processors": [
            {"set": {"field": "handled", "value": "a"}}]}},
        pipeline_name="svc-%{[service]}")
    df = spark.createDataFrame(
        [("a", "x"), ("b", "y"), (None, "z")], "service string, payload string")
    out = {r["payload"]: r.asDict() for r in eng.filter(df).collect()}
    assert out["x"]["handled"] == "a"
    # resolved to unregistered 'svc-b' -> the row fails with "pipeline not
    # loaded" (EventProcessor.java:160-168), as through Router
    assert out["y"]["handled"] is None
    assert "_ingest_pipeline_failure" in (out["y"]["tags"] or [])
    assert out["y"]["__failure"]["message"] == "pipeline not loaded [svc-b]"
    # unresolved field -> passes through unmodified
    assert out["z"]["handled"] is None
    assert (out["z"]["tags"] or []) == []


def test_directory_registration(spark, tmp_path):
    (tmp_path / "p1.json").write_text(
        '{"processors": [{"set": {"field": "via", "value": "dir"}}]}')
    eng = SparkIngestFilter(pipelines=str(tmp_path),
                            routing={"logs-x-default": "p1"})
    df = spark.createDataFrame([("logs-x-default",)], "_index string")
    r = eng.filter(df).collect()[0]
    assert r["via"] == "dir"
    assert r["__sink"] == "logs-x-default"


def test_cli_end_to_end(spark, tmp_path):
    """python -m logstash_filter_elastic_integration_spark — the spark-submit deployment
    surface, run as a subprocess over real data."""
    import json
    import subprocess
    import sys

    from logstash_filter_elastic_integration_spark.sources.datagen import transcripts
    src = str(tmp_path / "in")
    transcripts(spark, 500).repartition(2).write.parquet(src)
    (tmp_path / "pipes").mkdir()
    (tmp_path / "pipes" / "p1.json").write_text(
        '{"processors": [{"set": {"field": "via", "value": "cli"}}]}')
    out = subprocess.run(
        [sys.executable, "-m", "logstash_filter_elastic_integration_spark",
         "--input", src, "--pipelines", str(tmp_path / "pipes"),
         "--routing", "logs-generic-default=p1",
         "--warehouse", str(tmp_path / "wh"),
         "--run-dir", str(tmp_path / "run"), "--cores", "4"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["status"] == "ok" and res["files"] == 2, out.stderr[-500:]
    back = spark.read.parquet(str(tmp_path / "wh" / "sinks"))
    assert back.count() == 500
    assert back.filter("via = 'cli'").count() == 500


def test_painless_containskey(spark):
    from tests.conftest import run_one
    from logstash_filter_elastic_integration_spark.plans import PipelineRegistry
    out = run_one(spark, PipelineRegistry(),
                  [{"set": {"field": "has_it", "value": "yes",
                            "if": "ctx.containsKey('maybe')"}}],
                  [("v",), (None,)], "maybe string")
    by = {r["maybe"]: r for r in out}
    assert by["v"]["has_it"] == "yes"
    assert by[None]["has_it"] is None


def test_template_reads_nested_field_refs(spark):
    """``%{[a][b]}`` in a pipeline_name template reads the dotted column."""
    eng = SparkIngestFilter(
        pipelines={"svc-a": {"processors": [
            {"set": {"field": "handled", "value": "a"}}]}},
        pipeline_name="svc-%{[svc][name]}")
    df = spark.createDataFrame([("a",)], "`svc.name` string")
    assert eng.filter(df).first()["handled"] == "a"
