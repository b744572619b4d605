import os

import pytest

from logstash_filter_elastic_integration_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[N] follows the host: SPARK_GRAFT_CPUS, else the usable cores
    cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                or len(os.sched_getaffinity(0)))
    s = get_spark(app_name="tests", cores=cores, shuffle_partitions=8)
    yield s


@pytest.fixture()
def registry():
    from logstash_filter_elastic_integration_spark.plans import PipelineRegistry
    return PipelineRegistry()


def run_one(spark, registry, processors, rows, schema, on_failure=None):
    """Helper: run a processor list over literal rows, return list of dicts."""
    from logstash_filter_elastic_integration_spark.plans import run_pipeline
    definition = {"processors": processors}
    if on_failure:
        definition["on_failure"] = on_failure
    registry.register("test", definition)
    df = spark.createDataFrame(rows, schema)
    out = run_pipeline(df, "test", registry)
    return [r.asDict(recursive=True) for r in out.collect()]
