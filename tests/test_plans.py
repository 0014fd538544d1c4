"""Plan assertions (SURVEY §5.5): guard the idiomatic-Spark physical
plans — predicate pushdown reaching the parquet scan, column pruning,
broadcast joins where declared.  Regressions here are scale bugs even
when results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_spark.catalog import Catalog

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    li = Catalog(spark, SF_SMOKE).table("lineitem")
    df = li.filter(F.col("l_quantity") < 10).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "LessThan(l_quantity" in plan, plan


def test_column_pruning_read_schema(spark):
    li = Catalog(spark, SF_SMOKE).table("lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # the parquet scan must read only the projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_q08_broadcast_join(spark):
    from graph_spark.queries.qsuite import QUERIES

    q08 = next(q for q in QUERIES if q.name == "q08_broadcast_join")
    plan = _plan(q08.build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_q06_semi_q07_anti_join_strategy(spark):
    from graph_spark.queries.qsuite import QUERIES

    reg = {q.name: q for q in QUERIES}
    assert "LeftSemi" in _optimized(reg["q06_semi_join"].build(spark, SF_SMOKE))
    assert "LeftAnti" in _optimized(reg["q07_anti_join"].build(spark, SF_SMOKE))


def test_q17_take_ordered(spark):
    from graph_spark.queries.qsuite import QUERIES

    q17 = next(q for q in QUERIES if q.name == "q17_global_topk")
    plan = _plan(q17.build(spark, SF_SMOKE))
    # global sort+limit must lower to TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in plan, plan


def test_events_ts_partition_filter_prunes(spark):
    """Temporal point-read pattern: the ts predicate must reach the scan
    (at 100 TB this is what prunes time-bucket partitions)."""
    o = Catalog(spark, SF_SMOKE).table("orders")
    df = o.filter(F.col("o_orderdate") <= F.lit("1998-01-01").cast("timestamp"))
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "LessThanOrEqual(o_orderdate" in plan, plan


def test_asof_join_no_cartesian(spark):
    """The as-of join must stay a union+window plan — a regression to a
    range crossJoin would be quadratic at scale."""
    from graph_spark.queries.qsuite import QUERIES

    q10 = next(q for q in QUERIES if q.name == "q10_asof_join")
    plan = _plan(q10.build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_lsh_candidates_no_cartesian(spark):
    """LSH candidate generation must be an equi-join on (t, bucket)."""
    from graph_spark.catalog import Catalog
    from graph_spark.operators.similarity import cosine_topk_lsh

    em = Catalog(spark, SF_SMOKE).table("embeddings")
    df = cosine_topk_lsh(em, em.filter(F.col("vec_id") < 3), 5, dim=64)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan


def test_whole_stage_codegen_in_agg(spark):
    from graph_spark.queries.qsuite import QUERIES

    import contextlib
    import io

    q01 = next(q for q in QUERIES if q.name == "q01_scan_agg")
    df = q01.build(spark, SF_SMOKE)
    df.collect()  # AQE finalizes the physical plan only on execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # '*' prefix in formatted explain marks whole-stage-codegen nodes
    assert "== Final Plan ==" in plan and "* HashAggregate" in plan, plan


def test_m02_filter_pushes_below_mapinpandas(spark):
    """The doc_id<50 filter must reach the parquet scan, not run after
    the python stage — at 100 TB the payload decode must see only the
    selected rows."""
    from graph_spark.queries.lsuite import QUERIES

    m02 = next(q for q in QUERIES if q.name == "m02_frame_sample")
    plan = _plan(m02.build(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan and "LessThan(doc_id,50)" in plan, plan


def test_g18_indexed_range_filters_push_to_scan(spark):
    """The temporal-index edge-bucket predicate must reach the parquet
    scan (driver-side bucket math keeps it a literal comparison)."""
    from graph_spark.queries.gsuite import QUERIES

    g18 = next(q for q in QUERIES if q.name == "g18_temporal_agg_indexed")
    plan = _plan(g18.build(spark, SF_SMOKE))
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_l21_vec_filter_pushes_to_scan(spark):
    """Embedding quantization reads only filtered vectors: the vec_id
    predicate must reach the parquet scan."""
    from graph_spark.queries.lsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "l21_embed_quantize")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan and "LessThan(vec_id,100)" in plan, plan


def test_g23_degree_joins_broadcast(spark):
    """Node-similarity joins the two (small) degree frames by broadcast;
    only the inverted-index self-join may shuffle."""
    from graph_spark.queries.gsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "g23_node_similarity")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_t07_single_window_exchange(spark):
    """Time-weighted average: segment expansion and the final aggregate
    share the entity-key partitioning — exactly one exchange over the
    change-point table (plus the scan)."""
    from graph_spark.queries.qsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "t07_time_weighted_avg")
    plan = _plan(q.build(spark, SF_SMOKE))
    # orderBy adds a range exchange at the output edge; the data path
    # itself must not re-shuffle between window and aggregate
    body = plan.split("Sort", 1)[0]
    assert "CartesianProduct" not in plan
    assert body.count("Exchange hashpartitioning") <= 2, plan


def test_l20_banding_no_cartesian(spark):
    """SimHash hamming pairs must come from the band equi-join — a
    cartesian/broadcast-nested-loop over documents is a scale bug."""
    from graph_spark.queries.lsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "l20_simhash_hamming")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan


def test_t11_range_join_no_nested_loop(spark):
    """The unkeyed range join must execute as a bucket equi-join —
    nested-loop/cartesian over the two event sets is the scale bug the
    operator exists to avoid."""
    from graph_spark.queries.qsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "t11_bucketed_range_join")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_g31_broadcasts_degree_table(spark):
    from graph_spark.queries.gsuite import QUERIES

    g31 = next(q for q in QUERIES if q.name == "g31_assortativity")
    plan = _plan(g31.build(spark, SF_SMOKE))
    # the |V|-sized degree table must broadcast onto the edge list;
    # a shuffle join here would move |E| twice at cluster scale
    assert "BroadcastHashJoin" in plan, plan


def test_t18_single_window_shuffle(spark):
    from graph_spark.queries.qsuite import QUERIES

    t18 = next(q for q in QUERIES if q.name == "t18_latest_per_key")
    plan = _plan(t18.build(spark, SF_SMOKE))
    # keep-latest is ONE hash shuffle on the key (the final orderBy adds
    # a range exchange); more hash exchanges would mean a join crept in
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_l27_trigrams_no_join(spark):
    from graph_spark.queries.lsuite import QUERIES

    l27 = next(q for q in QUERIES if q.name == "l27_char_trigrams")
    plan = _plan(l27.build(spark, SF_SMOKE))
    # per-row expansion must be Generate (explode), never a join against
    # an index relation (the oracle's bounded-series join is oracle-only)
    assert "Generate explode" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_q53_broadcasts_percentile_bounds(spark):
    from graph_spark.queries.qsuite import QUERIES

    q53 = next(q for q in QUERIES if q.name == "q53_winsorize")
    plan = _plan(q53.build(spark, SF_SMOKE))
    # the per-group p05/p95 bounds table is tiny and must broadcast —
    # a shuffle join here would re-shuffle the fact table
    assert "BroadcastHashJoin" in plan, plan


def test_t23_broadcasts_day_spine(spark):
    from graph_spark.queries.qsuite import QUERIES

    t23 = next(q for q in QUERIES if q.name == "t23_rolling_wau")
    plan = _plan(t23.build(spark, SF_SMOKE))
    # the one-row-per-day spine joins the user-day set via broadcast
    # nested loop (range condition); a shuffled NL join would be wrong
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_g36_broadcasts_norms(spark):
    from graph_spark.queries.gsuite import QUERIES

    g36 = next(q for q in QUERIES if q.name == "g36_cosine_node_similarity")
    plan = _plan(g36.build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_g38_copurchase_no_cartesian(spark):
    from graph_spark.queries.gsuite import QUERIES

    g38 = next(q for q in QUERIES if q.name == "g38_copurchase_projection")
    plan = _plan(g38.build(spark, SF_SMOKE))
    # the basket self-join must key on orderkey with pk< as a residual —
    # never a nested-loop/cartesian expansion
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_l33_entropy_stays_in_codegen(spark):
    from graph_spark.queries.lsuite import QUERIES

    l33 = next(q for q in QUERIES if q.name == "l33_char_entropy")
    plan = _plan(l33.build(spark, SF_SMOKE))
    # letter counts + entropy fold are pure builtin expressions: no
    # Python evaluation and no explode of the text into characters
    assert "EvalPython" not in plan and "Generate" not in plan, plan


def test_t29_align_single_window_shuffle(spark):
    from graph_spark.queries.qsuite import QUERIES

    t29 = next(q for q in QUERIES if q.name == "t29_temporal_align")
    plan = _plan(t29.build(spark, SF_SMOKE))
    # forward-fill window must partition by the entity key (no
    # single-partition window over the raw change-point stream)
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan.split("Sort")[0] or "hashpartitioning(user_id" in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_t28_median_window_over_aggregated_series(spark):
    from graph_spark.queries.qsuite import QUERIES

    t28 = next(q for q in QUERIES if q.name == "t28_rolling_median")
    plan = _plan(t28.build(spark, SF_SMOKE))
    # the unpartitioned rolling window is legal ONLY because its input
    # is the pre-aggregated daily series: the partial/final HashAggregate
    # pair must sit below the Window in the plan
    win = plan.index("Window")
    assert "HashAggregate" in plan[win:], plan


def test_l35_kmeans_broadcasts_centroids_no_udf(spark):
    from graph_spark.queries.lsuite import QUERIES

    l35 = next(q for q in QUERIES if q.name == "l35_kmeans")
    plan = _plan(l35.build(spark, SF_SMOKE))
    # the k-row centroid table must broadcast; distance math stays in
    # codegen expressions, never Python
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "EvalPython" not in plan, plan


def test_l43_vocab_join_broadcasts(spark):
    # the top-K vocab must broadcast onto the token stream; a shuffle
    # join on term would move the whole corpus at 100 TB
    from graph_spark.queries.lsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "l43_vocab_coverage")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_q87_skew_audit_single_scan_per_key(spark):
    # each audit is groupBy + rank + one-row agg; no joins back to the
    # fact table, so the plan must contain zero SortMergeJoins
    from graph_spark.queries.qsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "q87_skew_audit")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan, plan


def test_t45_sweep_sorts_boundaries_not_events(spark):
    # the global sweep-line window must run over session boundary
    # points (post-aggregation), i.e. below it sits the session
    # groupBy, not the raw events scan
    from graph_spark.queries.qsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "t45_concurrency")
    opt = _optimized(q.build(spark, SF_SMOKE))
    # the global sweep Window sits above a Union whose branches are the
    # per-session interval Aggregates — boundary points, not raw rows
    assert opt.index("Window") < opt.index("Union"), opt
    assert ":- Aggregate" in opt and "+- Aggregate" in opt, opt


def test_g48_katz_no_cartesian(spark):
    from graph_spark.queries.gsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "g48_katz")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan


def test_l55_weighted_sample_take_ordered(spark):
    # global top-k must lower to TakeOrderedAndProject, not a full sort
    from graph_spark.queries.lsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "l55_weighted_sample")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_q93_skyline_no_quadratic_join(spark):
    # the skyline is two window passes, NOT an O(n^2) dominance join
    from graph_spark.queries.qsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "q93_skyline")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_l54_cost_plan_no_pair_join(spark):
    # the planner must NOT execute the candidate-pair join it estimates:
    # only the signature aggregations appear — no self-join of bands
    from graph_spark.queries.lsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "l54_lsh_cost_plan")
    opt = _optimized(q.build(spark, SF_SMOKE))
    assert "Join" not in opt, opt


def test_similar_topk_auto_routes_large_corpus_to_lsh(spark):
    """Engine.similar_topk(ann=None) must pick the LSH candidate-join
    plan once the corpus crosses SIMILARITY_BRUTE_THRESHOLD: the
    physical plan gets equi-joins on (t, bucket) and NO all-pairs
    BroadcastNestedLoopJoin / CartesianProduct (the brute-force shape).
    The corpus is a lazy range->array expression, so only the routing
    count() executes."""
    from graph_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    big = spark.range(150_000).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 8), i -> cast(pmod(id * i, 97) as double) / 97.0)").alias(
            "embedding"
        ),
    )
    probes = big.filter(F.col("vec_id") < 3)
    plan = _plan(eng.similar_topk(big, probes, k=5))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # small corpus keeps the exact path (a theta-join on id inequality)
    small = big.filter(F.col("vec_id") < 50)
    plan_small = _plan(eng.similar_topk(small, probes.limit(2), k=5))
    assert "BroadcastNestedLoopJoin" in plan_small, plan_small


def test_betweenness_guard_refuses_driver_oom(spark):
    """The distributed betweenness path collects the edge list on the
    driver; above BETWEENNESS_REPLICATE_EDGE_LIMIT it must raise with
    the landmark-closeness pointer instead of OOMing."""
    import pytest

    from graph_spark.graph import algorithms as alg
    from graph_spark.graph.property_graph import PropertyGraph

    e = spark.createDataFrame([("a", "b"), ("b", "a"), ("b", "c")], ["src", "dst"])
    g = PropertyGraph(e.select(F.col("src").alias("id")).distinct(), e)
    old = alg.BETWEENNESS_REPLICATE_EDGE_LIMIT
    alg.BETWEENNESS_REPLICATE_EDGE_LIMIT = 2
    try:
        with pytest.raises(ValueError, match="landmark"):
            alg.betweenness_centrality(g, local=False)
    finally:
        alg.BETWEENNESS_REPLICATE_EDGE_LIMIT = old


def test_bucketed_tables_join_without_shuffle(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with ZERO Exchange in the plan — the persisted
    co-located-join layout SCALE.md promises for the 100 TB edge/fact
    tables.  Broadcast is disabled so the assert can't pass vanity-style
    via a small-table broadcast."""
    from graph_spark.sources.writers import write_bucketed_table

    o = Catalog(spark, SF_SMOKE).table("orders").select("o_custkey", "o_totalprice")
    c = (
        Catalog(spark, SF_SMOKE)
        .table("customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_acctbal")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_table(o, "bkt_orders", "o_custkey", 8)
        write_bucketed_table(c, "bkt_cust", "o_custkey", 8)
        j = spark.table("bkt_orders").join(spark.table("bkt_cust"), "o_custkey")
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # sanity: same join on the unbucketed frames DOES shuffle
        plan_raw = _plan(o.join(c, "o_custkey"))
        assert "Exchange" in plan_raw, plan_raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_cust")


def test_aqe_splits_skewed_join(spark):
    """AQE must detect and split a hot-key shuffle partition at runtime:
    after execution the final adaptive plan shows SortMergeJoin(skew=true)
    with an AQEShuffleRead 'skewed' child.  This is the runtime half of
    the skew story in SCALE.md (the static half is upstream salting for
    KNOWN hot keys); thresholds are lowered so a 500k-row fixture
    exhibits what a power-law graph hub does at 100 TB."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(500_000).select(
            F.when(F.col("id") % 5 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = big.join(dim, "k")
        # collect() (not count()) so the final adaptive plan belongs to
        # THIS DataFrame's query execution
        assert len(j.collect()) == 400200
        plan = _plan(j)
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_g72_local_bridges_no_cartesian(spark):
    from graph_spark.queries.gsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "g72_local_bridges")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan


def test_g74_temporal_motifs_equi_joins_only(spark):
    from graph_spark.queries.gsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "g74_temporal_motifs")
    plan = _plan(q.build(spark, SF_SMOKE))
    # time ordering + delta window must ride the equi-joins as filters,
    # never degrade to a cartesian/nested-loop pair enumeration
    assert "CartesianProduct" not in plan, plan


def test_l67_substring_spans_gram_equi_join(spark):
    from graph_spark.queries.lsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "l67_substring_spans")
    plan = _plan(q.build(spark, SF_SMOKE))
    # cross-document candidate pairs come ONLY from the gram equi-join
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_plan_audit_reports_shapes(spark):
    """Engine.plan_audit must see the red flags and the good shapes."""
    from graph_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    li = eng.table("lineitem")
    good = li.filter(F.col("l_quantity") < 5).join(
        F.broadcast(eng.table("orders")), F.col("l_orderkey") == F.col("o_orderkey")
    )
    a = Engine.plan_audit(good)
    assert a["n_broadcast_joins"] >= 1 and a["n_cartesian"] == 0
    assert a["has_pushed_filters"]
    bad = li.crossJoin(eng.table("orders"))
    assert Engine.plan_audit(bad)["n_cartesian"] + Engine.plan_audit(bad)["n_bcast_nested_loop"] >= 1


def test_pregel_shuffle_state_no_broadcast_exchange(spark):
    """The >VERTEX_STATE_BROADCAST_LIMIT Pregel layout must not broadcast
    the vertex state: with the stats-based auto-broadcast disabled
    (emulating a state vector far above any broadcast threshold), the
    shared superstep join (_attach_contributions, broadcast=False) must
    plan a shuffle join — NO BroadcastExchange anywhere — while the
    broadcast=True layout forces one via its hint.  The edge side is the
    persisted pre-partitioned copy, so its partitioning survives and the
    |E| frame is never re-shuffled per superstep; the state is
    checkpointed the way the superstep driver does it (_checkpoint), so
    its node partitioning survives too."""
    from graph_spark.graph.algorithms import _attach_contributions, _checkpoint

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n_part = spark.sparkContext.defaultParallelism
        e = (
            spark.range(2000)
            .select(
                F.concat(F.lit("n"), (F.col("id") % 97).cast("string")).alias("src"),
                F.concat(F.lit("n"), ((F.col("id") * 7) % 97).cast("string")).alias("dst"),
            )
            .repartition(n_part, "src")
            .persist()
        )
        e.count()
        state = _checkpoint(
            e.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.lit(1.0).alias("rank"))
            .repartition(n_part, "node")
        )
        contrib = state.select(F.col("node").alias("src"), F.col("rank").alias("w"))
        shuffle_msgs = (
            _attach_contributions(e, contrib, False)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").alias("acc"))
        )
        plan = _plan(shuffle_msgs)
        assert "BroadcastExchange" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # exactly one runtime exchange: the dst message combine (map-side
        # partial) — neither the persisted |E| edge copy nor the
        # checkpointed node-partitioned state is re-shuffled
        assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
        bcast_msgs = (
            _attach_contributions(e, contrib, True)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").alias("acc"))
        )
        assert "BroadcastExchange" in _plan(bcast_msgs)
        e.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_centroid_state_guard_refuses_driver_oom(spark):
    """kmeans/IVF/PQ hold the k x dim centroid table driver-side between
    iterations; above CENTROID_STATE_LIMIT they must raise with the
    hierarchical-codebook pointer instead of OOMing the driver."""
    import pytest

    from graph_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(10)], ["vec_id", "embedding"]
    )
    old = sim.CENTROID_STATE_LIMIT
    sim.CENTROID_STATE_LIMIT = 4
    try:
        with pytest.raises(ValueError, match="hierarchical"):
            sim.kmeans_lloyd(emb, k=8, iters=1)
        with pytest.raises(ValueError, match="hierarchical"):
            sim.ivf_centroids(emb, n_clusters=8, dim=2)
        with pytest.raises(ValueError, match="hierarchical"):
            sim.pq_codebooks(emb, n_sub=2, sub_dim=1, k=8)
    finally:
        sim.CENTROID_STATE_LIMIT = old
    # under the limit the same calls run
    out = sim.kmeans_lloyd(emb, k=2, iters=1)
    assert out.count() == 10


def test_cypher_compiles_to_pushdown_join_plan(spark):
    """The Cypher compiler must produce the plan a hand-written
    DataFrame query would: label/property predicates pushed below the
    pattern joins (visible as filters over the edge-view aggregation,
    with the lineitem/orders scans intact underneath), hash joins only,
    and no cartesian products or Python UDFs anywhere."""
    from graph_spark.queries.gsuite import cypher_graph
    from graph_spark.graph.cypher import cypher
    from graph_spark.catalog import Catalog

    df = cypher(
        cypher_graph(Catalog(spark, SF_SMOKE)),
        """MATCH (a:Customer)-[e:BUYS]->(s:Supplier)<-[f:BUYS]-(b:Customer)
           WHERE e.n_items >= 3 AND f.n_items >= 3 AND a.node < b.node
           RETURN s.node AS supplier, count(*) AS n_pairs""",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the n_items >= 3 predicates must sit below the pair join (one
    # filter per leg over the aggregated edge view)
    assert plan.count("n_items#") > 0 and "(n_items" in plan.replace(" ", ""), plan


def test_plan_audit_counts_true_shuffles_only(spark):
    """n_exchanges must count shuffle Exchange operators only: a
    broadcast join plan has a BroadcastExchange but ZERO shuffle
    exchanges; a groupBy has exactly one."""
    from graph_spark.engine import Engine

    left = spark.range(100).withColumnRenamed("id", "k")
    right = spark.range(10).withColumnRenamed("id", "k")
    bj = left.join(F.broadcast(right), "k")
    a = Engine.plan_audit(bj)
    assert a["n_broadcast_joins"] >= 1
    assert a["n_exchanges"] == 0, a  # BroadcastExchange is NOT a shuffle

    gb = spark.range(100).groupBy((F.col("id") % 7).alias("g")).count()
    assert Engine.plan_audit(gb)["n_exchanges"] == 1


def test_l80_bloom_membership_broadcasts_bit_set(spark):
    """The Bloom position set must reach the train side as a broadcast
    (the whole point of the sketch: <=65536 rows of state), and the
    candidate check must never degrade to a nested-loop pair scan."""
    from graph_spark.queries.lsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "l80_bloom_decontam")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_g100_hits_broadcasts_score_state(spark):
    """Each HITS half-round joins the |V|-sized score table into the
    stationary edge list as a broadcast hash join — never a shuffle of
    the edges per round, never a nested loop."""
    from graph_spark.queries.gsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "g100_hits")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_l84_countmin_cells_broadcast(spark):
    """The 4096-cell CMS table must come back to the token side as a
    broadcast hash join — the sketch's bounded state IS the point."""
    from graph_spark.queries.lsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "l84_countmin")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_l92_pca_iteration_stays_on_gram(spark):
    """PCA power iteration joins the 64-row vector into the 4096-cell
    Gram matrix as broadcast hash joins; the corpus-sized pair join
    happens exactly once (building G), never inside the loop."""
    from graph_spark.queries.lsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "l92_pca_power_iteration")
    plan = _plan(q.build(spark, SF_SMOKE))
    # the only nested-loop joins are the per-round 1-row max-normalizer
    # scalars (crossJoin(broadcast(m))) — never a data-sized cartesian;
    # the un-checkpointed v lineage nests, so count them by KIND not
    # number: every BNLJ line must be the Cross scalar form
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    # localCheckpoint truncates G's build lineage, so the executed
    # plan contains ONLY the iteration: broadcast joins over G
    assert "BroadcastExchange" in plan, plan


def test_q135_spatial_join_is_equi(spark):
    """The radius search must come from the grid-cell equi-join (SMJ/
    SHJ/BHJ on (cx, cy)) — never a cartesian pair enumeration; the one
    nested-loop join allowed is the single-row n_pairs scalar."""
    from graph_spark.queries.qsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "q135_spatial_grid_join")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line


def test_q134_rule_join_is_equi_and_broadcasts_margins(spark):
    """Basket pair candidates come from the orderkey equi self-join;
    the item-count margins join back as broadcasts."""
    from graph_spark.queries.qsuite import QUERIES

    q = next(q for q in QUERIES if q.name == "q134_association_rules")
    plan = _plan(q.build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    assert "BroadcastExchange" in plan, plan


def test_negative_sampling_no_cartesian(spark):
    """g107's candidate pool must stay O(|src|*m): probes explode from a
    generator and equi-join dst ranks — a regression to the old
    distinct-src x distinct-dst crossJoin (V^2 enumerated pairs) shows
    up as CartesianProduct / BroadcastNestedLoopJoin."""
    from graph_spark.queries.gsuite import QUERIES

    g107 = next(q for q in QUERIES if q.name == "g107_negative_sampling")
    plan = _plan(g107.build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # probe generation is a Generate (explode of the m-probe sequence),
    # not a join against the dst dimension
    assert "Generate explode" in plan or "Generate" in plan, plan


def test_minhash_signatures_no_exchange(spark):
    """MinHash signatures are per-row higher-order functions — a
    regression to the row-exploded form (tokens().distinct() ->
    explode k -> groupBy min) shows up as Exchange operators; this path
    must stay a pure scan+project (the 326 s -> 40 s lesson at 2M
    docs)."""
    from graph_spark.catalog import Catalog
    from graph_spark.operators.dedup import minhash_signature_array

    docs = Catalog(spark, SF_SMOKE).table("documents")
    plan = _plan(minhash_signature_array(docs, k=16))
    assert "Exchange" not in plan, plan


def test_round4_queries_no_cartesian(spark):
    """r4 additions keep the no-cartesian discipline: item-item recs
    (two equi-joins + window), BLEU components (lead pairing + count
    equi-joins), prefix-filter join (prefix equi-join only).  t85's
    12x12 lattice crossJoin is the documented tiny-dim exception and
    is excluded here."""
    from graph_spark.queries.gsuite import QUERIES as GQ
    from graph_spark.queries.lsuite import QUERIES as LQ

    for pool, name in (
        (GQ, "g117_itemitem_recs"),
        (LQ, "l109_bleu_overlap"),
        (LQ, "l110_prefix_filter_join"),
        (LQ, "l111_skipgram_pairs"),
    ):
        q = next(q for q in pool if q.name == name)
        plan = _plan(q.build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name}: {plan}"


def test_g121_g122_pattern_predicates_semi_anti(spark):
    """The declared Cypher pattern-predicate queries must lower to hash
    SEMI/ANTI joins on the real fixture graph — not just on the unit-
    test tiny graph — with no cartesian/nested-loop anywhere (the r4
    verdict's done-criterion for EXISTS / NOT)."""
    from graph_spark.queries.registry import by_name

    reg = by_name()
    semi = _plan(reg["g121_cypher_exists"].build(spark, SF_SMOKE))
    anti = _plan(reg["g122_cypher_not_pattern"].build(spark, SF_SMOKE))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti
    for p in (semi, anti):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_round6b_queries_no_cartesian(spark):
    """Round-6b additions keep the no-cartesian discipline: the Cypher
    type-union (g130), undirected rollup (g132), collect (g133), the
    BH windows (q159), and the matryoshka/decontam top-1 joins whose
    only nested-loop is the documented bounded-probe broadcast."""
    from graph_spark.queries.registry import by_name

    reg = by_name()
    for name in (
        "g130_cypher_rel_type_union",
        "g132_cypher_undirected",
        "g133_cypher_collect",
        "q159_bh_fdr",
        "q157_k_anonymity",
    ):
        plan = _plan(reg[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name}: {plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: {plan}"
    # q158's one BNLJ is the documented 1-row x 1-row scalar crossJoin
    # (agg x ties), the q155/t85 tiny-dim exception; no cartesian ever
    plan = _plan(reg["q158_kruskal_wallis"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_g130_union_branches_push_predicate(spark):
    """The type-disjunction leg is a UNION of the two type frames and
    the edge predicate reaches BOTH branches (Catalyst pushes the
    n_items filter below the Union)."""
    from graph_spark.queries.registry import by_name

    df = by_name()["g130_cypher_rel_type_union"].build(spark, SF_SMOKE)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in opt
    # both branches carry the partition filter AND the query predicate
    assert opt.count("n_items") >= 4


def test_l119_l122_probe_side_broadcast(spark):
    """The brute-force top-1 joins broadcast the bounded probe set
    against the stationary corpus — the only acceptable nested-loop
    (non-equi self-exclusion condition, probe side capped by id)."""
    from graph_spark.queries.registry import by_name

    reg = by_name()
    for name in ("l119_matryoshka_audit", "l122_embedding_decontam"):
        plan = _plan(reg[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name}: {plan}"
        assert "BroadcastNestedLoopJoin" in plan, f"{name}: {plan}"


def test_round7_cypher_path_queries_no_cartesian(spark):
    """Round-7 named-path lowerings keep the no-cartesian discipline:
    the path-carrying BFS (g137), the composed-closure undirected BFS
    (g138), and the path enumeration (g139) plan as equi-join chains
    only."""
    from graph_spark.queries.registry import by_name

    reg = by_name()
    for name in (
        "g137_cypher_path_nodes",
        "g138_cypher_undirected_sp",
        "g139_cypher_path_enum",
    ):
        plan = _plan(reg[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name}: {plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: {plan}"


def test_path_enum_label_filter_pushed_below_first_join(spark):
    """g139's :Nation source label must filter the enumeration's base
    frame BEFORE the hop join (the anchor pushdown that keeps path
    enumeration viable), not sit above the union of chains."""
    from graph_spark.queries.registry import by_name

    opt = _optimized(
        by_name()["g139_cypher_path_enum"].build(spark, SF_SMOKE)
    )
    # the startswith('n') label predicate appears in more than one
    # place (both chain legs), i.e. it was pushed into the branches
    assert opt.lower().count("startswith") >= 2, opt


def test_round8_count_subquery_plan_shapes(spark):
    """g140's count{} lowers to a pre-aggregate + LEFT hash join on the
    shared variable — never a cartesian, never re-expanding the scope;
    g142's enumeration stays an equi-join BFS."""
    from graph_spark.queries.registry import by_name

    reg = by_name()
    for name in ("g140_cypher_count_subquery", "g142_cypher_allsp_enum"):
        plan = _plan(reg[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name}: {plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: {plan}"


def test_round8_call_subquery_broadcast_threshold(spark):
    """g141's CALL cross join must be the broadcast-append shape: the
    single-aggregate-row side broadcasts (BroadcastNestedLoopJoin over
    a 1-row aggregate or a broadcast exchange), never a shuffled
    CartesianProduct."""
    from graph_spark.queries.registry import by_name

    plan = _plan(by_name()["g141_cypher_call_subquery"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_round9_correlated_call_and_orderby_count_plan_shapes(spark):
    """g144's correlated CALL lowers to one pre-aggregate + one LEFT
    hash join on the imported key (never per-row re-execution, never a
    cartesian); g145's count{} sort key joins the pre-aggregate onto
    the projected frame and the LIMIT tail stays a TakeOrdered shape."""
    from graph_spark.queries.registry import by_name

    reg = by_name()
    for name in (
        "g144_cypher_correlated_call",
        "g145_cypher_count_subquery_order_by",
    ):
        plan = _plan(reg[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name}: {plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: {plan}"
    plan = _plan(by_name()["g145_cypher_count_subquery_order_by"].build(spark, SF_SMOKE))
    assert "TakeOrdered" in plan, plan
