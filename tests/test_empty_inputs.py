"""Empty-input robustness: every operator family must accept a 0-row
input and return a 0-row DataFrame with its declared schema — no
exceptions, no driver-side crashes on `head(1)`-style probes.

At pipeline scale empty slices are routine (a partition-pruned day with
no data, a filter that matches nothing, a cold-start stream), and an
operator that throws on them takes down a whole DAG.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_spark.graph.property_graph import PropertyGraph


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string, lang string")


def _empty_graph(spark):
    e = spark.createDataFrame([], "src string, dst string")
    return PropertyGraph(e.select(F.col("src").alias("id")).distinct(), e)


def test_dedup_ops_on_empty(spark):
    from graph_spark.operators.dedup import (
        exact_dedup_groups,
        minhash_lsh_candidates,
        simhash_hamming_pairs,
    )

    d = _empty_docs(spark)
    assert exact_dedup_groups(d).count() == 0
    assert minhash_lsh_candidates(d).count() == 0
    assert simhash_hamming_pairs(d).count() == 0


def test_text_ops_on_empty(spark):
    from graph_spark.operators.text import pack_sequences, quality_features

    d = _empty_docs(spark)
    q = quality_features(d)
    assert q.count() == 0 and "doc_id" in q.columns
    p = pack_sequences(d)
    assert p.count() == 0 and "pack_id" in p.columns


def test_similarity_ops_on_empty(spark):
    from graph_spark.operators.similarity import cosine_topk_bruteforce, cosine_topk_lsh

    em = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert cosine_topk_bruteforce(em, em, 3).count() == 0
    assert cosine_topk_lsh(em, em, 3, dim=4).count() == 0


def test_graph_algorithms_on_empty(spark):
    from graph_spark.graph import algorithms as alg

    g = _empty_graph(spark)
    for local in (True, False):
        assert alg.pagerank(g, iterations=2, local=local).count() == 0
        assert alg.connected_components(g, local=local).count() == 0
    out = alg.strongly_connected_components(g, local=False)
    assert out.count() == 0 and out.columns == ["node", "component"]
    # a fully empty graph yields no rows at all, on both routes
    # (contrast: an absent source on a NON-empty graph reports itself
    # at distance 0, covered in test_graph_extra)
    ew = spark.createDataFrame([], "src string, dst string, w double")
    gw = PropertyGraph(ew.select(F.col("src").alias("id")).distinct(), ew)
    for local in (True, False):
        assert alg.bfs_distances(g, "x", 2, local=local).count() == 0, local
        assert alg.multi_source_bfs(g, ["x", "y"], 2, local=local).count() == 0, local
        assert alg.shortest_paths_weighted(gw, "x", "w", local=local).count() == 0, local
    # no landmarks on a graph with edges: no rows on both routes, and
    # the distributed seed frame keeps the declared schema
    e = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    ge = PropertyGraph(e.select(F.col("src").alias("id")).distinct(), e)
    for local in (True, False):
        out = alg.multi_source_bfs(ge, [], 2, local=local)
        assert out.count() == 0 and out.columns == ["lm", "node", "d"], local


def test_relational_ops_on_empty(spark):
    from graph_spark.operators.relational import asof_join, sessionize

    left = spark.createDataFrame([], "user_id bigint, ts timestamp, v double")
    right = spark.createDataFrame([], "user_id bigint, ts timestamp, px double")
    assert asof_join(left, right, ["user_id"], "ts", "ts").count() == 0
    s = sessionize(left, "user_id", "ts", 600.0)
    assert s.count() == 0 and "session_id" in s.columns


def test_new_graph_algorithms_on_empty(spark):
    from graph_spark.graph import algorithms as alg

    g = _empty_graph(spark)
    for local in (True, False):
        assert alg.katz_centrality(g, iterations=2, local=local).count() == 0
        assert alg.louvain_local_rounds(g, rounds=2, local=local).count() == 0
    # incremental CC: empty delta on non-empty labels is the identity;
    # empty labels + a delta batch self-labels the new nodes
    labels = spark.createDataFrame([("a", "a"), ("b", "a")], ["node", "component"])
    empty_edges = spark.createDataFrame([], "src string, dst string")
    out = {r["node"]: r["component"] for r in alg.incremental_components(labels, empty_edges).collect()}
    assert out == {"a": "a", "b": "a"}
    no_labels = spark.createDataFrame([], "node string, component string")
    delta = spark.createDataFrame([("x", "y"), ("y", "x")], ["src", "dst"])
    out2 = {r["node"]: r["component"] for r in alg.incremental_components(no_labels, delta).collect()}
    assert out2 == {"x": "x", "y": "x"}


def test_pq_ops_on_empty_probes(spark):
    from graph_spark.catalog import Catalog
    from graph_spark.operators.similarity import pq_topk_rerank

    from .conftest import SF_SMOKE

    em = Catalog(spark, SF_SMOKE).table("embeddings")
    no_probes = em.filter(F.col("vec_id") < 0)
    assert pq_topk_rerank(em, no_probes, k=3, shortlist=10).count() == 0


def test_negative_sampling_on_empty_matches_nonempty_schema(spark):
    """The n_dst==0 early-return must carry the SAME src/neg types as
    the non-empty path (derived from the edge schema, not a hardcoded
    DDL — r4 ADVICE): a union of an empty day's output with a full
    day's must not throw on string node ids."""
    from graph_spark.operators.sampling import bounded_negative_samples

    empty = spark.createDataFrame([], "src string, dst string")
    full = spark.createDataFrame(
        [("c1", "s1"), ("c1", "s2"), ("c2", "s1")], ["src", "dst"]
    )
    out_e = bounded_negative_samples(empty, k=2, m=4)
    out_f = bounded_negative_samples(full, k=2, m=4)
    assert out_e.schema == out_f.schema
    assert out_e.count() == 0
    assert out_e.unionByName(out_f).count() == out_f.count()


def test_round6b_operators_on_empty(spark):
    from graph_spark.operators.sampling import weighted_reservoir_sample
    from graph_spark.operators.text import lcs_window_chain
    from graph_spark.temporal.smoothing import holt_winters

    empty_items = spark.createDataFrame([], "key string, w double")
    assert weighted_reservoir_sample(empty_items, "key", "w", k=5).count() == 0

    empty_eqt = spark.createDataFrame([], "pair bigint, i int, j int, eq int")
    assert lcs_window_chain(empty_eqt, la=3).count() == 0

    empty_series = spark.createDataFrame([], "k string, rn int, x double")
    hw = holt_winters(
        empty_series, value_col="x", order_cols=("rn",), key_cols=("k",),
        season=3,
    )
    assert hw.count() == 0
    assert hw.columns == [
        "k", "n_obs", "level", "trend", "s_next", "forecast_1"
    ]


def test_r9_cypher_forms_on_empty(spark):
    """Correlated CALL and count{}-sort-key on a 0-edge graph: empty
    scope in, empty frame out, declared schema intact."""
    from graph_spark.graph.cypher import CypherGraph, cypher

    e = spark.createDataFrame(
        [], "src string, dst string, n_items long, weight double"
    )
    g = CypherGraph(
        PropertyGraph(e.select(F.col("src").alias("id")).distinct(), e),
        rel_types={"E": e},
    )
    out = cypher(
        g,
        "MATCH (a)-[x:E]->(b) WITH DISTINCT a "
        "CALL { WITH a MATCH (a)-[f:E]->(c) "
        "RETURN count(*) AS n, sum(f.weight) AS w } "
        "RETURN a, n, w",
    )
    assert out.columns == ["a", "n", "w"] and out.count() == 0
    out2 = cypher(
        g,
        "MATCH (a)-[x:E]->(b) RETURN DISTINCT a "
        "ORDER BY count { (a)-[:E]->() } DESC, a LIMIT 5",
    )
    assert out2.columns == ["a"] and out2.count() == 0
