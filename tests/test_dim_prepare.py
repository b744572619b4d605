"""Driver-side dim preparation against the Spark window picks it replaced.

Lookup dims are deduped (one row per key: the smallest property tuple)
and range dims are cut into disjoint narrowest-cover segments in Python,
over rows collected once per registry.  The oracles below are the former
Spark implementations, with ``rank()`` in place of ``row_number()`` so
that every tied candidate is visible: the Python pick must be one of them.
"""

from __future__ import annotations

import math

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import Row, Window, functions as F
from pyspark.sql import types as T

from logstash_filter_elastic_integration_spark.operators.enrich import (
    dedupe_rows, disjoint_narrowest, sort_key)
from logstash_filter_elastic_integration_spark.session import local_frame

EXACT = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("s", T.StringType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("d", T.DoubleType()),
])
RANGE = T.StructType([
    T.StructField("lo", T.LongType()),
    T.StructField("hi", T.LongType()),
    T.StructField("v", T.StringType()),
])

# small value pools: duplicate keys and tied properties are the norm
_E = Row(*EXACT.names)
_exact_rows = st.lists(st.builds(
    _E,
    st.sampled_from([None, "a", "b"]),
    st.sampled_from([None, "", "é"]),
    st.sampled_from([None, False, True]),
    st.sampled_from([None, math.nan, -0.0, 0.0, 1.5, -math.inf])),
    max_size=10)
_props = st.lists(st.sampled_from(["s", "b", "d"]), unique=True, max_size=3)
_bound = st.one_of(st.none(), st.integers(0, 12))
_R = Row(*RANGE.names)
_range_rows = st.lists(st.builds(
    _R, _bound, _bound, st.sampled_from([None, "p", "q"])), max_size=8)


def _norm(row, schema):
    return tuple(sort_key(v, f.dataType) for v, f in zip(row, schema.fields))


def _old_dedupe_candidates(spark, rows, key_col, props):
    """The former ``_dedupe_dim`` window, ranked: key -> tied picks."""
    dim = local_frame(spark, rows, EXACT)
    order = [F.col(p) for p in props] or [F.col(key_col)]
    w = Window.partitionBy(key_col).orderBy(*order)
    out: dict = {}
    for r in (dim.withColumn("__rn", F.rank().over(w))
              .filter(F.col("__rn") == 1).drop("__rn").collect()):
        if r[key_col] is not None:  # a NULL key never matches a lookup
            out.setdefault(sort_key(r[key_col], T.StringType()), []).append(
                _norm(r, EXACT))
    return out


@given(rows=_exact_rows, props=_props)
@example(rows=[_E("a", None, None, math.nan), _E("a", None, None, 1.5)],
         props=["d"])
@example(rows=[_E("a", "", True, -0.0), _E("a", None, True, 0.0),
               _E(None, None, None, None)], props=["s", "b"])
@example(rows=[_E("b", "é", True, 0.0), _E("b", "é", False, 0.0)],
         props=["b", "d"])
@settings(max_examples=60, deadline=None)
def test_dedupe_matches_old_window_pick(spark, rows, props):
    picked = dedupe_rows(rows, EXACT, "k", props)
    oracle = _old_dedupe_candidates(spark, rows, "k", props)
    got = {sort_key(r[0], T.StringType()): _norm(r, EXACT) for r in picked}
    assert len(got) == len(picked)  # one row per key
    assert set(got) == set(oracle)
    for key, row in got.items():
        assert row in oracle[key]


def _old_segment_candidates(spark, rows, lo, hi, props):
    """The former ``_disjoint_narrowest`` plan, ranked:
    (seg_lo, seg_hi) -> tied property tuples."""
    dim = local_frame(spark, rows, RANGE)
    bounds = (dim.select(F.col(lo).alias("b"))
              .union(dim.select((F.col(hi) + 1).alias("b"))).distinct())
    w = Window.orderBy("b")
    seg = (bounds.select(F.col("b").alias("__seg_lo"),
                         (F.lead("b").over(w) - 1).alias("__seg_hi"))
           .filter(F.col("__seg_hi").isNotNull()))
    cov = seg.join(dim, (F.col("__seg_lo") >= F.col(lo))
                   & (F.col("__seg_hi") <= F.col(hi)))
    wn = Window.partitionBy("__seg_lo").orderBy(
        (F.col(hi) - F.col(lo)).asc(), F.col(lo).asc())
    out: dict = {}
    for r in (cov.withColumn("__rn", F.rank().over(wn))
              .filter(F.col("__rn") == 1)
              .select("__seg_lo", "__seg_hi", *props).collect()):
        out.setdefault((r[0], r[1]), []).append(tuple(r[2:]))
    return out


@given(rows=_range_rows)
@example(rows=[_R(0, 4, "p"), _R(2, 6, "q"), _R(0, 12, "q")])
@example(rows=[_R(5, 9, "q"), _R(1, 10, None), _R(6, None, "p"),
               _R(3, 3, "p")])
@settings(max_examples=60, deadline=None)
def test_segments_match_old_window_pick(spark, rows):
    segs = disjoint_narrowest(rows, RANGE, "lo", "hi", ["v"])
    oracle = _old_segment_candidates(spark, rows, "lo", "hi", ["v"])
    assert [s[:2] for s in segs] == sorted(oracle)
    for s in segs:
        assert tuple(s[2:]) in oracle[s[:2]]


def test_local_dim_collects_once_per_registered_frame(spark, registry):
    dim = local_frame(spark, [("a", "x", True, 1.0)], EXACT)
    registry.dims["d"] = dim
    rows, schema = registry.local_dim("d")
    assert registry.local_dim("d")[0] is rows  # collected once
    assert schema == EXACT
    registry.dims["d"] = local_frame(spark, [("b", "y", False, 2.0)], EXACT)
    assert [r["k"] for r in registry.local_dim("d")[0]] == ["b"]
