"""Connected-components near-dup clustering + exact integer k-means.

Structural properties that must hold at any scale (the value-level parity
vs DuckDB is the driver's oracle check; these pin the algorithmic
invariants and the plan shape)."""

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


def test_dedup_clusters_partition_invariants(spark):
    from logstash_filter_elastic_integration_spark.queries import (
        QUERIES, _minhash_reps_and_pairs)
    out = QUERIES["dedup_clusters"](spark, SF).collect()
    lab = {r.doc_id: r.cluster_id for r in out}
    # 1. cluster id is the component MINIMUM -> every cluster_id <= doc_id
    assert all(c <= d for d, c in lab.items())
    # 2. canonical flag = doc is its own cluster representative
    assert all(r.is_canonical == (r.doc_id == r.cluster_id) for r in out)
    # 3. every candidate pair landed in the SAME cluster (the defining
    #    property of connected components over the pair graph)
    _, pairs = _minhash_reps_and_pairs(spark, SF)
    for p in pairs.collect():
        assert lab[p.a] == lab[p.b], (p.a, p.b)
    # 4. each cluster's representative is a member
    assert all(c in lab for c in set(lab.values()))


def test_pointer_jumping_converges_on_long_chain(spark):
    """A 30-link chain has min-label eccentricity 30 — beyond any 20-round
    one-hop budget.  Pointer jumping doubles label reach per round, so it
    converges in ~5 rounds and the whole chain lands in one cluster."""
    from logstash_filter_elastic_integration_spark.queries import (
        _connected_components)
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(30)]
        + [("z1", "z2")],                       # separate 2-node component
        "a string, b string")
    labels = {r.node: r.lab
              for r in _connected_components(pairs, max_rounds=8).collect()}
    assert all(labels[f"d{i:02d}"] == "d00" for i in range(31))
    assert labels["z1"] == "z1" and labels["z2"] == "z1"


def test_dedup_clusters_matches_recursive_cte(spark):
    from logstash_filter_elastic_integration_spark.queries import (
        ORACLES, QUERIES)
    got = sorted((r.doc_id, r.cluster_id, r.is_canonical)
                 for r in QUERIES["dedup_clusters"](spark, SF).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(ORACLES["dedup_clusters"]).fetchall())
    assert got == want


def test_kmeans_assignment_is_argmin_and_stable(spark):
    from logstash_filter_elastic_integration_spark import queries as Q
    out = Q.q_ann_ivf_kmeans(spark, SF)
    rows = out.collect()
    emb = Q.load(spark, SF, "embeddings").count()
    # total assignment: every vector gets exactly one cell
    assert len(rows) == emb
    assert len({r.vec_id for r in rows}) == emb
    # k cells at most, ids within the seed range
    cells = {r.cell for r in rows}
    assert cells <= set(range(Q._KM_K))
    # >1 cell used (the data is not degenerate)
    assert len(cells) > 1


def test_kmeans_matches_duckdb_two_lloyd_iterations(spark):
    from logstash_filter_elastic_integration_spark import queries as Q
    got = sorted((r.vec_id, r.cell)
                 for r in Q.q_ann_ivf_kmeans(spark, SF).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF}/embeddings.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(Q.O_ANN_IVF_KMEANS).fetchall())
    assert got == want


def test_kmeans_assignment_is_shuffle_free_projection(spark):
    """The argmin pass must be a pure PROJECTION over literal centroids —
    no join (the r2 BNLJ exploded rows ×k), no Exchange, no Sort/Window
    above the cached corpus scan.  Centroids are driver-side metadata, so
    the corpus is never shuffled for assignment."""
    from logstash_filter_elastic_integration_spark import queries as Q
    plan = Q.q_ann_ivf_kmeans(spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    assignment = plan.split("InMemoryTableScan")[0]
    assert "Join" not in assignment
    assert "Exchange" not in assignment
    assert "Sort" not in assignment
    assert "Window" not in assignment
    assert "element_at" in assignment  # the literal-centroid argmin


def test_ngram_jaccard_leaves_nothing_cached(spark):
    """dedup_ngram_jaccard releases its persisted representatives before it
    returns, so later minhash builds cannot be served from that cache."""
    from logstash_filter_elastic_integration_spark.queries import (
        QUERIES, _minhash_reps_and_pairs)
    QUERIES["dedup_ngram_jaccard"](spark, SF)
    reps, _ = _minhash_reps_and_pairs(spark, SF)
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.lookupCachedData(reps._jdf).isEmpty()
