"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what we would set cluster-side: AQE on (runtime
coalescing + skew-join splitting), Arrow on (every UDF is pandas/Arrow
batched — the input_hint forbids per-row Python), shuffle partitions sized
to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_driver_memory() -> str:
    """``spark.driver.memory`` default: 16g, capped at half of the host's
    physical memory (``MemTotal`` in /proc/meminfo) so a default session
    never asks for more heap than the machine has.  ``SPARK_DRIVER_MEM``
    overrides it."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    mb = 16 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mb = min(mb, int(line.split()[1]) // 1024 // 2)
                    break
    except OSError:
        pass
    return f"{max(mb, 1024)}m"


def get_spark(
    app_name: str = "logstash_filter_elastic_integration_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, int(n))
    # glibc malloc tuning for the Arrow/pandas worker fleet: N workers
    # churning millions of short-lived strings per batch trigger an
    # mmap/munmap storm (measured 80% SYSTEM cpu at local[32] on the grok
    # stage; kernel zone-lock contention).  Pin arenas and disable trim so
    # freed batch memory is reused instead of returned page-by-page.  Must
    # be in the environment BEFORE the JVM forks the pyspark worker daemon.
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "134217728")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # dynamic-partition fan-out writes: concurrent writers instead of
        # the sort-based writer (the route column has few distinct values,
        # so a handful of open files per task beats sorting wide rows)
        .config("spark.sql.maxConcurrentOutputFileWriters", "16")
        # deep compiled pipelines fuse into ONE whole-stage method; above
        # ~8KB bytecode HotSpot refuses to JIT it and the whole stage runs
        # interpreted (measured 3x flagship slowdown once the JVM grok
        # lowering removed the ArrowEvalPython stage split).  8000 matches
        # the JIT's HugeMethodLimit: larger stages fall back to
        # per-operator codegen, which the JIT does compile.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # InferFiltersFromGenerate clones every explode's generator child
        # into a `size(e) > 0` Filter that predicate pushdown then sinks
        # below exchanges — for the shingle/trigram explodes the cloned
        # expression is an interpreted higher-order transform() that ends
        # up re-evaluated per row in the (often single-split) scan stage.
        # The inferred filter only pre-drops rows that would generate zero
        # output rows anyway, so excluding the rule never changes results;
        # measured (interleaved ABBA, sf0.1, local[32]):
        # dedup_minhash_lsh 3.46s -> 1.35s, decontaminate_ngram
        # 2.31s -> 0.46s, everything else unchanged.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # static session default (r5 ADVICE fix): the json processor's
        # allow_duplicate_keys=true needs the variant parser to accept
        # duplicates; setting it here once keeps p_json from mutating the
        # shared conf mid-session (the strict duplicate REJECTION is an
        # explicit conf-independent check in operators/parse.py)
        .config("spark.sql.variant.allowDuplicateKeys", "true")
        # PySpark origin capture off: with it on, every Column / F.* call
        # on the driver does getActiveSession, a conf read, a Python stack
        # walk and PySparkCurrentOrigin.set/clear — three to four extra
        # py4j round trips per call, more than half of a pipeline
        # compile's traffic.  The captured call site would point into the
        # engine's operator modules, never into the user's pipeline JSON;
        # what is given up is that Python call site in the DataFrame
        # context of runtime errors (the SQL error itself is unchanged).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Driver-side rows -> a DataFrame over a ``LocalRelation``.

    ``createDataFrame(list)`` builds a Python-RDD relation: every action on
    it, even a collect of three rows, is a Spark job that starts Python
    workers.  Going through an Arrow table instead yields a
    ``LocalRelation``, which Spark collects on the driver without a job
    and broadcasts without a Python hop.  Rows are tuples or Rows in
    ``schema`` field order.  Values Arrow cannot take, and timestamps
    (collected as naive local datetimes, which Arrow would read as UTC),
    fall back to the plain path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if "timestamp" in schema.simpleString():
        return spark.createDataFrame(rows, schema)
    names = schema.names
    try:
        table = pa.Table.from_pylist(
            [dict(zip(names, r)) for r in rows],
            schema=to_arrow_schema(schema))
    except (pa.ArrowException, TypeError, ValueError, OverflowError):
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(table, schema)
