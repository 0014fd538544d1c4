#!/usr/bin/env python
"""Guided tour of the graph_spark engine surface.

Run: python examples/demo.py [sf_dir]        (default /root/testdata/sf0.001)

Walks the capability areas of SURVEY.md §2 end-to-end on the test data:
relational, graph, temporal, streaming-shape, and LLM-data operators.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from graph_spark import Engine, get_spark

    spark = get_spark("graph-spark-demo")
    spark.sparkContext.setLogLevel("ERROR")
    eng = Engine(spark, sf_dir)

    print("== relational: SQL over registered tables + graph views ==")
    eng.sql(
        "SELECT l_returnflag, round(sum(l_quantity),2) qty FROM lineitem GROUP BY 1 ORDER BY 1"
    ).show()

    print("== relational: as-of join (latest click before each purchase) ==")
    ev = eng.table("events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    eng.asof_join(purchases, clicks, ["user_id"], "ts", "ts", value_cols=[]).select(
        "event_id", "ts", "asof_ts"
    ).show(5)

    print("== graph: PageRank top-5 on the customer-supplier graph ==")
    eng.pagerank(iterations=10).orderBy(F.desc("rank")).show(5)

    print("== graph: motif — supplier shared by two customers ==")
    eng.motif(["a->s", "b->s"], distinct_vertices=True).show(5)

    print("== graph: 3-core and community labels ==")
    eng.k_core(3).show(5)
    eng.label_propagation(max_iter=5).show(5)

    print("== temporal: cumulative spend as of 1998-01-01 ==")
    eng.temporal_value_at("1998-01-01").orderBy(F.desc("value")).show(5)

    print("== multimodal: payload frames via mapInPandas (codec stubbed) ==")
    media = eng.to_media(eng.table("documents").limit(5))
    eng.frame_sample(media, frame_bytes=64, every=2).show(5)

    print("== LLM ops: near-duplicate candidates via MinHash LSH ==")
    docs = eng.table("documents")
    eng.dedup_candidates(docs).show(5)

    print("== LLM ops: ANN similar vectors (IVF) ==")
    em = eng.table("embeddings")
    eng.similar_topk(em, em.filter(F.col("vec_id") < 3), k=3, ann="ivf", dim=64).show()

    print("== graph: personalized PageRank from a seed set ==")
    eng.personalized_pagerank(["c1", "c5"], iterations=8).orderBy(F.desc("rank")).show(5)

    print("== graph: landmark closeness (one multi-source BFS) ==")
    eng.landmark_distances(["c1", "c5"], max_hops=4).groupBy("node").count().show(5)

    print("== graph: supplier Jaccard similarity by shared customers ==")
    eng.node_similarity(min_common=1, min_items=1).orderBy(F.desc("jaccard")).show(5)

    print("== temporal: duration-weighted average over a range ==")
    eng.temporal_time_weighted_avg(
        F.lit("1996-01-01").cast("timestamp"), F.lit("1998-01-01").cast("timestamp")
    ).show(5)

    print("== LLM ops: SimHash near-dup pairs (band LSH + hamming) ==")
    # guarded pigeonhole contract (r7): max_distance must be < n_bands
    eng.dedup_simhash(docs, max_distance=3).show(5)

    print("== graph: edge-weighted PageRank (mass follows trade volume) ==")
    eng.pagerank_weighted(iterations=5).orderBy(F.desc("rank")).show(5)

    print("== graph: clustering coefficient + assortativity + growth series ==")
    eng.clustering_coefficient().show(3)
    eng.assortativity().show()
    eng.snapshot_series().show(4)

    print("== graph: full core decomposition (coreness per node) ==")
    eng.core_decomposition().orderBy(F.desc("coreness"), "node").show(5)

    print("== graph: delta-stepping SSSP (bucketed weighted distances) ==")
    eng.shortest_paths_delta_stepping("c1", delta=4.0).orderBy("dist", "node").show(5)

    print("== graph: strongly connected components (Min-Label rounds above 5M edges) ==")
    eng.strongly_connected_components().groupBy("component").count().orderBy(
        F.desc("count")
    ).show(3)

    print("== LLM ops: ANN auto-routing (brute below 100k corpus rows, LSH above) ==")
    eng.similar_topk(em, em.filter(F.col("vec_id") < 3), k=3).show(5)

    print("== LLM ops: token-budget sequence packing + surprisal quality ==")
    eng.pack_sequences(docs, budget=256).groupBy("lang", "pack_id").count().show(5)
    eng.surprisal(docs).orderBy("doc_id").show(5)

    print("== multimodal: overlapping byte-window chunking (STFT shape) ==")
    eng.window_chunks(eng.to_media(docs), window_bytes=64, hop=32).show(5)

    print("== temporal store: point/interval writes, reads at t ==")
    pts = eng.table("orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_totalprice").alias("value"),
    )
    store = eng.temporal_store().write_points(pts, prop="order_value")
    store.value_at(F.lit("1997-01-01").cast("timestamp"), "order_value").show(5)

    print("== traversal API: snapshot + time-respecting ==")
    eng.traverse("c1").max_hops(2).at_time(
        F.lit("1996-06-01").cast("timestamp")
    ).run().show(5)
    eng.traverse("c1").max_hops(2).time_respecting().run().show(5)

    print("== UDF surface: SQL-registered python functions ==")
    eng.register_udfs()
    eng.sql("SELECT doc_id, round(char_entropy(text),3) AS entropy FROM documents LIMIT 5").show()
    eng.sql(
        "SELECT o_orderpriority, round(trimmed_mean(o_totalprice),2) AS tmean"
        " FROM orders GROUP BY 1 ORDER BY 1"
    ).show()

    print("== graph: betweenness (sampled), matching, walks, rich club ==")
    eng.betweenness(sources=["c1", "c2", "c3"]).orderBy(F.desc("bc")).show(5)
    eng.maximal_matching().orderBy(F.desc("weight")).show(5)
    eng.walks().show(3, truncate=False)
    eng.copurchase_graph().show(5)

    print("== temporal: align two properties onto one change-point series ==")
    tp = eng.table("events").selectExpr(
        "user_id AS entity_id", "event_type AS prop", "ts", "value"
    )
    eng.temporal_align(tp, ["click", "view"]).orderBy("entity_id", "ts").show(5)

    print("== embeddings: distributed Lloyd's k-means ==")
    km = eng.kmeans(eng.table("embeddings"), k=4, iters=2)
    km.groupBy("cid").count().orderBy("cid").show()

    print("== scale tooling: skew audit before you shuffle ==")
    eng.skew_audit(eng.table("lineitem"), "l_suppkey").show(truncate=False)

    print("== text: BM25 term salience, kNN label vote ==")
    eng.bm25(eng.table("documents")).orderBy(F.desc("bm25")).show(5)
    eng.knn_classify(eng.table("embeddings").limit(50), k=3).show(5)

    print("== graph: truncated Katz walk counts ==")
    eng.katz().orderBy(F.desc("w3")).show(5)

    print("== graph: iterated Katz, Louvain communities, harmonic centrality ==")
    eng.katz_centrality(iterations=4).orderBy(F.desc("katz"), "node").show(5)
    eng.louvain(rounds=3).groupBy("comm").count().orderBy(F.desc("count")).show(5)
    eng.harmonic_centrality(["c1", "c5"], max_hops=4).orderBy(
        F.desc("harmonic"), "node"
    ).show(5)

    print("== graph: incremental CC — absorb a delta batch without old edges ==")
    labels0 = eng.connected_components()
    delta = spark.createDataFrame([("c1", "zz_new"), ("zz_new", "c1")], ["src", "dst"])
    eng.incremental_components(labels0, delta).filter(
        F.col("node").isin("c1", "zz_new")
    ).show()

    print("== LLM ops: SemDeDup cells, substring spans, PQ search ==")
    eng.semdedup(em).orderBy("cluster_id").show(4)
    eng.substring_spans(docs).orderBy(F.desc("max_span")).show(4)
    eng.pq_search(em, em.filter(F.col("vec_id") < 2), k=3, shortlist=50).show()

    print("== Cypher subset: pattern predicates, list literals, OPTIONAL ==")
    eng.cypher(
        """MATCH (c:Customer)-[e:BUYS]->(s:Supplier)
           WHERE e.n_items IN [3, 4, 5] AND
                 (EXISTS { (s)<-[:BUYS {n_items: 5}]-(x:Customer) } OR
                  NOT (c)-[:BUYS {n_items: 1}]->(y:Supplier))
           RETURN s AS supplier, count(*) AS n ORDER BY n DESC, supplier
           LIMIT 5"""
    ).show()

    print("== LLM ops: verbatim span dedup (capped) + JL projection ==")
    eng.span_dedup(docs, n=5, max_gram_freq=8).orderBy(
        F.desc("max_run_tokens"), "doc_a", "doc_b"
    ).show(4)
    eng.project_embeddings(em, dim=64, out_dim=8).select(
        "vec_id", F.round(F.col("proj")[0], 3).alias("p0")
    ).show(3)

    print("== data quality: one-scan column profile ==")
    eng.profile(eng.table("orders")).orderBy("col_name").show(truncate=False)

    print("== temporal: per-key EWMA (the window-algebra boundary) ==")
    eng.ewma(eng.table("events")).orderBy("user_id").show(5)

    print("== Cypher: type unions, undirected, string ops, collect ==")
    eng.cypher(
        """MATCH (c:Customer)-[e:BUYS_SMALL|BUYS_BULK]->(s:Supplier)
           WHERE c.node STARTS WITH 'c1' AND e.n_items >= 2
           WITH s, collect(c.node) AS buyers, count(*) AS n
           RETURN s AS supplier, n, buyers[0] AS first_buyer
           ORDER BY n DESC, supplier SKIP 1 LIMIT 4"""
    ).show()
    eng.cypher(
        """MATCH (a:Customer {node: 'c1'})-[:BUYS*1..2]-(b)
           WHERE NOT b.node ENDS WITH '1'
           RETURN b AS reached ORDER BY reached LIMIT 6"""
    ).show()

    print("== Cypher r8: COUNT/CALL subqueries, top-k-then-expand ==")
    eng.cypher(
        """CALL { MATCH (x:Customer)-[g:BUYS]->(y:Supplier)
                 RETURN max(g.n_items) AS mx }
           MATCH (c:Customer)-[e:BUYS]->(s:Supplier)
           WHERE e.n_items = mx
           RETURN c.node AS customer, s.node AS supplier, e.n_items AS n
           ORDER BY customer LIMIT 5"""
    ).show()
    eng.cypher(
        """MATCH (c:Customer)-[e:BUYS]->(s:Supplier)
           WITH s, count(*) AS fanin ORDER BY fanin DESC, s LIMIT 3
           RETURN s AS supplier, fanin,
                  count { (s)<-[:BUYS]-(z:Customer) } AS check_fanin
           ORDER BY supplier"""
    ).show()

    print("== Cypher r9: correlated CALL, count{} as sort key ==")
    eng.cypher(
        """MATCH (c:Customer)-[e:BUYS]->(s:Supplier)
           WITH DISTINCT c
           CALL { WITH c
                  MATCH (c)-[f:BUYS]->(x:Supplier) WHERE f.n_items >= 3
                  RETURN count(*) AS bulk_deg, sum(f.n_items) AS bulk_items }
           RETURN c AS customer, bulk_deg, bulk_items
           ORDER BY bulk_deg DESC, customer LIMIT 5"""
    ).show()
    eng.cypher(
        """MATCH (c:Customer)-[e:BUYS]->(s:Supplier)
           WHERE e.n_items >= 3
           RETURN DISTINCT s AS supplier
           ORDER BY count { (supplier)<-[:BUYS]-(x:Customer) } DESC,
                    supplier LIMIT 5"""
    ).show()

    print("== temporal: per-key Holt-Winters seasonal forecast ==")
    eng.holt_winters(
        eng.table("events").select("user_id", "ts", "event_id", "value"),
        value_col="value", order_cols=("ts", "event_id"),
        key_cols=("user_id",), season=4,
    ).orderBy("user_id").show(5)

    print("demo complete")


if __name__ == "__main__":
    main()
