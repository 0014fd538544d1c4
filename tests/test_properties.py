"""Property-based invariants (SURVEY §5.4) on seeded-random micro data:
algebraic laws the engine must preserve regardless of data, and
Pregel-vs-reference-implementation equivalence on random sparse graphs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from graph_spark.graph import algorithms as alg
from graph_spark.graph.algorithms import bfs_distances, connected_components
from graph_spark.graph.property_graph import PropertyGraph

# Default tier runs ONE seed; the extra seeds are redundant coverage
# and re-run in the nightly tier (pytest.ini addopts; VERDICT r7 item
# 2 — suite tiering).  Every parity property still executes by default.
SEEDS = [
    42,
    pytest.param(7, marks=pytest.mark.nightly),
    pytest.param(1337, marks=pytest.mark.nightly),
]

# (local, VERTEX_STATE_BROADCAST_LIMIT) pairs exercising every Pregel
# execution path: single-task numpy kernel, distributed broadcast-state
# superstep (the default limit), and the shuffle-state superstep (dual
# edge layout, nothing |V|-sized broadcast) that a limit of 0 forces.
# Each loop iteration monkeypatches the limit to its mode's value.
STATE_LIMIT = alg.VERTEX_STATE_BROADCAST_LIMIT
PREGEL_MODES = [(True, STATE_LIMIT), (False, STATE_LIMIT), (False, 0)]


def _random_graph(seed: int, n_nodes: int = 60, n_edges: int = 120):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.add((f"n{a}", f"n{b}"))
    sym = edges | {(b, a) for a, b in edges}
    return sorted(sym)


def _py_bfs(edges, source, max_hops):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    dist = {source: 0}
    frontier = [source]
    for h in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = h
                    nxt.append(v)
        frontier = nxt
    return dist


def _py_cc(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {}
    for a, b in edges:
        for x in (a, b):
            labels[x] = find(x)
    # path-compress to final minimum
    return {x: find(x) for x in labels}


@pytest.mark.parametrize("seed", SEEDS)
def test_bfs_matches_python_reference(spark, seed):
    edges = _random_graph(seed)
    edf = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    # exercise BOTH code paths: distributed Pregel and local numpy kernel
    for local in (True, False):
        got = {r["node"]: r["d"] for r in bfs_distances(g, "n0", 3, local=local).collect()}
        want = _py_bfs(edges, "n0", 3)
        assert got == want, f"local={local} seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_cc_matches_union_find(spark, seed, monkeypatch):
    edges = _random_graph(seed)
    edf = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    want = _py_cc(edges)
    for local, limit in PREGEL_MODES:
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        got = {r["node"]: r["component"] for r in connected_components(g, local=local).collect()}
        assert got == want, f"local={local} limit={limit} seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_filter_composition(spark, seed):
    rng = random.Random(seed)
    rows = [(i, rng.randrange(100), rng.random()) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "k", "v"])
    a = df.filter(F.col("k") > 20).filter(F.col("v") < 0.5)
    b = df.filter((F.col("k") > 20) & (F.col("v") < 0.5))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.parametrize("seed", SEEDS)
def test_union_distinct_set_semantics(spark, seed):
    rng = random.Random(seed)
    xs = [(rng.randrange(30),) for _ in range(100)]
    ys = [(rng.randrange(30),) for _ in range(100)]
    a = spark.createDataFrame(xs, ["v"])
    b = spark.createDataFrame(ys, ["v"])
    got = sorted(r["v"] for r in a.union(b).distinct().collect())
    want = sorted({x[0] for x in xs} | {y[0] for y in ys})
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_window_running_sum_telescopes(spark, seed):
    """sum over(unbounded..current) minus lag of itself == value."""
    from pyspark.sql import Window

    rng = random.Random(seed)
    rows = [(i % 5, i, round(rng.random() * 100, 2)) for i in range(200)]
    df = spark.createDataFrame(rows, ["g", "seq", "v"])
    w = Window.partitionBy("g").orderBy("seq")
    run = df.withColumn("run", F.sum("v").over(w)).withColumn(
        "delta", F.col("run") - F.coalesce(F.lag("run").over(w), F.lit(0.0))
    )
    bad = run.filter(F.abs(F.col("delta") - F.col("v")) > 1e-9).count()
    assert bad == 0


def _py_sssp(wedges, source, max_iter):
    """Synchronous Bellman-Ford reference (same round semantics)."""
    dist = {source: 0}
    for _ in range(max_iter):
        new = dict(dist)
        for a, b, w in wedges:
            if a in dist and dist[a] + w < new.get(b, float("inf")):
                new[b] = dist[a] + w
        if new == dist:
            break
        dist = new
    return dist


def _py_kcore(edges, k):
    """Peel-to-fixpoint reference on a directed (symmetric) edge list."""
    cur = list(edges)
    while True:
        deg = {}
        for a, _ in cur:
            deg[a] = deg.get(a, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = [(a, b) for a, b in cur if a in keep and b in keep]
        if len(nxt) == len(cur):
            break
        cur = nxt
    out = {}
    for a, _ in cur:
        out[a] = out.get(a, 0) + 1
    return out


@pytest.mark.parametrize("seed", SEEDS)
def test_weighted_sssp_local_distributed_reference_parity(spark, seed, monkeypatch):
    """Bellman-Ford == the python reference on every execution path, to
    the fixpoint (12 rounds) and cut at a 3-round hop horizon."""
    from graph_spark.graph.algorithms import shortest_paths_weighted

    rng = random.Random(seed * 31)
    edges = _random_graph(seed)
    wedges = [(a, b, 1 + rng.randrange(9)) for a, b in edges]
    e = spark.createDataFrame(wedges, ["src", "dst", "w"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    for max_iter in (12, 3):
        want = _py_sssp(wedges, "n0", max_iter)
        for local, limit in PREGEL_MODES:
            monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
            got = {
                r["node"]: r["dist"]
                for r in shortest_paths_weighted(
                    g, "n0", "w", max_iter=max_iter, local=local
                ).collect()
            }
            assert got == want, f"local={local} limit={limit} max_iter={max_iter} seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_kcore_local_distributed_reference_parity(spark, seed):
    from graph_spark.graph.algorithms import k_core

    edges = _random_graph(seed)
    want = _py_kcore(edges, 3)
    e = spark.createDataFrame(edges, ["src", "dst"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    for local in (True, False):
        got = {r["node"]: r["degree"] for r in k_core(g, 3, local=local).collect()}
        assert got == want, f"local={local} seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_label_propagation_local_distributed_parity(spark, seed, monkeypatch):
    from graph_spark.graph.algorithms import label_propagation

    edges = _random_graph(seed)
    e = spark.createDataFrame(edges, ["src", "dst"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    a = {r["node"]: r["label"] for r in label_propagation(g, 4, local=True).collect()}
    for limit in (STATE_LIMIT, 0):
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        b = {r["node"]: r["label"] for r in label_propagation(g, 4, local=False).collect()}
        assert a == b, f"seed={seed} limit={limit}"


def _py_ppr(edges, sources, iters, damping):
    adj, deg = {}, {}
    nodes = set()
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        deg[a] = deg.get(a, 0) + 1
        nodes.update((a, b))
    tele = {n: (1.0 / len(sources) if n in sources else 0.0) for n in nodes}
    rank = dict(tele)
    for _ in range(iters):
        acc = {n: 0.0 for n in nodes}
        for u, r in rank.items():
            if deg.get(u):
                share = r / deg[u]
                for v in adj[u]:
                    acc[v] += share
        rank = {n: (1 - damping) * tele[n] + damping * acc[n] for n in nodes}
    return rank


@pytest.mark.parametrize("seed", SEEDS)
def test_personalized_pagerank_local_distributed_reference_parity(spark, seed, monkeypatch):
    from graph_spark.graph.algorithms import personalized_pagerank

    edges = _random_graph(seed)
    sources = ["n0", "n1"]
    want = _py_ppr(edges, sources, 5, 0.85)
    e = spark.createDataFrame(edges, ["src", "dst"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    for local, limit in PREGEL_MODES:
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        got = {
            r["node"]: r["rank"]
            for r in personalized_pagerank(g, sources, 5, local=local).collect()
        }
        assert got.keys() == want.keys(), f"local={local} limit={limit} seed={seed}"
        for n in want:
            assert abs(got[n] - want[n]) < 1e-9, f"local={local} limit={limit} node={n}"


@pytest.mark.parametrize("seed", SEEDS)
def test_multi_source_bfs_matches_single_source(spark, seed):
    """multi_source_bfs == one bfs_distances run per landmark, on both
    execution paths."""
    from graph_spark.graph.algorithms import multi_source_bfs

    edges = _random_graph(seed)
    sources = ["n0", "n3", "n7"]
    want = {}
    for s in sources:
        for node, d in _py_bfs(edges, s, 4).items():
            want[(s, node)] = d
    e = spark.createDataFrame(edges, ["src", "dst"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    for local in (True, False):
        got = {
            (r["lm"], r["node"]): r["d"]
            for r in multi_source_bfs(g, sources, 4, local=local).collect()
        }
        assert got == want, f"local={local} seed={seed}"


def test_compaction_preserves_point_reads(spark):
    """value_at over a compacted series == value_at over the raw series
    at every probe instant (compaction drops only redundant writes)."""
    from graph_spark.temporal.tprop import compact_changepoints, value_at

    rows = [
        (1, "2020-01-01", "a"), (1, "2020-02-01", "a"), (1, "2020-03-01", "b"),
        (1, "2020-04-01", "b"), (1, "2020-05-01", "a"),
        (2, "2020-01-15", "x"), (2, "2020-06-15", "x"),
    ]
    df = spark.createDataFrame(rows, "entity_id long, ts string, value string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    compacted = compact_changepoints(df)
    assert compacted.count() == 4  # (1,a) (1,b) (1,a) (2,x)
    for probe in ("2020-01-20", "2020-03-15", "2020-05-02", "2020-07-01"):
        t = F.lit(probe).cast("timestamp")
        raw = {r["entity_id"]: r["value"] for r in value_at(df, t).collect()}
        cmp = {r["entity_id"]: r["value"] for r in value_at(compacted, t).collect()}
        assert raw == cmp, probe


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize(
    "bucket_seconds",
    [
        3600,
        pytest.param(600, marks=pytest.mark.nightly),
        pytest.param(7200, marks=pytest.mark.nightly),
    ],
)
def test_bucketed_range_join_equals_theta_join(spark, seed, bucket_seconds):
    """Bucketed unkeyed range join == naive theta join, for bucket sizes
    smaller than, equal to, and larger than the interval length."""
    from graph_spark.operators.relational import bucketed_range_join

    rng = random.Random(seed)
    base = 1_700_000_000
    pts = [(i, base + rng.randrange(0, 200_000)) for i in range(150)]
    ivs = []
    for j in range(60):
        s = base + rng.randrange(0, 200_000)
        ivs.append((j, s, s + rng.randrange(1, 7200)))
    p = spark.createDataFrame(pts, "pid long, p_ts long").withColumn(
        "p_ts", F.timestamp_seconds("p_ts")
    )
    iv = (
        spark.createDataFrame(ivs, "iid long, s long, e long")
        .withColumn("s", F.timestamp_seconds("s"))
        .withColumn("e", F.timestamp_seconds("e"))
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in bucketed_range_join(
            p, iv, "p_ts", "s", "e", bucket_seconds=bucket_seconds
        ).collect()
    )
    want = sorted(
        (r["pid"], r["iid"])
        for r in p.join(iv, (F.col("p_ts") >= F.col("s")) & (F.col("p_ts") < F.col("e"))).collect()
    )
    assert got == want, f"seed={seed} bucket={bucket_seconds}"


def test_l28_packing_invariants(spark):
    """Sequence packing must conserve tokens, number packs contiguously
    from 0 per language, and never overflow budget by more than one
    straddling document."""
    from graph_spark.catalog import Catalog
    from graph_spark.queries.lsuite import QUERIES

    from .conftest import SF_SMOKE

    l28 = next(q for q in QUERIES if q.name == "l28_sequence_pack")
    packs = l28.build(spark, SF_SMOKE).collect()
    docs = (
        Catalog(spark, SF_SMOKE)
        .table("documents")
        .select("lang", F.size(F.split("text", " ")).alias("n_tok"))
        .groupBy("lang")
        .agg(F.sum("n_tok").alias("total"), F.max("n_tok").alias("max_tok"))
        .collect()
    )
    totals = {r["lang"]: r["total"] for r in docs}
    max_tok = {r["lang"]: r["max_tok"] for r in docs}
    by_lang = {}
    for r in packs:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == set(totals)
    for lang, rows in by_lang.items():
        ids = sorted(r["pack_id"] for r in rows)
        assert ids == list(range(len(ids))), f"{lang}: non-contiguous packs {ids[:5]}"
        assert sum(r["pack_tokens"] for r in rows) == totals[lang]
        for r in rows:
            assert r["pack_tokens"] <= 512 + max_tok[lang], (lang, r)


def test_t19_durations_telescope(spark):
    """Per user, summed state durations must equal last(ts) - first(ts):
    the piecewise segments tile the user's observed span exactly."""
    from graph_spark.catalog import Catalog
    from graph_spark.queries.qsuite import QUERIES

    from .conftest import SF_SMOKE

    t19 = next(q for q in QUERIES if q.name == "t19_time_in_state")
    got = t19.build(spark, SF_SMOKE).collect()
    per_user = {}
    for r in got:
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + r["total_us"]
    spans = (
        Catalog(spark, SF_SMOKE)
        .table("events")
        .groupBy("user_id")
        .agg(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span")
        )
        .collect()
    )
    for r in spans:
        assert per_user.get(r["user_id"], 0) == r["span"], r


def _py_weighted_pr(edges_w, iterations, damping):
    nodes = sorted({a for a, b, w in edges_w} | {b for a, b, w in edges_w})
    wout = {}
    for a, b, w in edges_w:
        wout[a] = wout.get(a, 0.0) + w
    rank = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(iterations):
        acc = {n: 0.0 for n in nodes}
        for a, b, w in edges_w:
            acc[b] += rank[a] * w / wout[a]
        rank = {n: (1.0 - damping) / len(nodes) + damping * acc[n] for n in nodes}
    return rank


@pytest.mark.parametrize("seed", SEEDS)
def test_weighted_pagerank_local_distributed_reference_parity(spark, seed, monkeypatch):
    from graph_spark.graph.algorithms import pagerank_weighted

    rng = random.Random(seed)
    edges_w = [(a, b, float(rng.randint(1, 9))) for a, b in _random_graph(seed)]
    want = _py_weighted_pr(edges_w, 5, 0.85)
    e = spark.createDataFrame(edges_w, ["src", "dst", "weight"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    for local, limit in PREGEL_MODES:
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        got = {r["node"]: r["rank"] for r in pagerank_weighted(g, 5, local=local).collect()}
        assert got.keys() == want.keys(), f"local={local} limit={limit} seed={seed}"
        for n in want:
            assert abs(got[n] - want[n]) < 1e-9, f"local={local} limit={limit} node={n}"


def _py_betweenness(edges):
    """Independent exact betweenness via the pair-summation identity
    (NOT Brandes): bc(v) = sum over s!=t, v not in {s,t}, of
    sigma_s(v)*sigma_v(t)/sigma_s(t) where dist_s(t) == dist_s(v) +
    dist_v(t); halved for undirected double-counting."""
    adj = {}
    nodes = set()
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        nodes.update((a, b))

    def bfs_sigma(src):
        dist = {src: 0}
        sigma = {src: 1}
        frontier = [src]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, []):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        sigma[v] = 0
                        nxt.append(v)
                    if dist[v] == dist[u] + 1:
                        sigma[v] += sigma[u]
            frontier = nxt
        return dist, sigma

    ds = {n: bfs_sigma(n) for n in nodes}
    bc = {n: 0.0 for n in nodes}
    for s in nodes:
        dist_s, sig_s = ds[s]
        for t in nodes:
            if t == s or t not in dist_s:
                continue
            for v in nodes:
                if v in (s, t) or v not in dist_s:
                    continue
                dist_v, sig_v = ds[v]
                if t in dist_v and dist_s[t] == dist_s[v] + dist_v[t]:
                    bc[v] += sig_s[v] * sig_v[t] / sig_s[t]
    return {n: b / 2.0 for n, b in bc.items()}


@pytest.mark.parametrize("seed", SEEDS)
def test_betweenness_local_distributed_reference_parity(spark, seed):
    from graph_spark.graph.algorithms import betweenness_centrality

    edges = _random_graph(seed, n_nodes=24, n_edges=40)
    want = _py_betweenness(edges)
    e = spark.createDataFrame(edges, ["src", "dst"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    for local in (True, False):
        got = {
            r["node"]: r["bc"]
            for r in betweenness_centrality(g, local=local).collect()
        }
        assert set(got) == set(want), f"local={local} seed={seed}"
        for n in want:
            assert abs(got[n] - want[n]) < 1e-9, f"{n} local={local} seed={seed}"


def test_betweenness_sampled_sources_sum(spark):
    """Dependencies are additive over sources: a sampled-source run must
    equal the exact run restricted to those sources' dependency sums."""
    from graph_spark.graph.algorithms import betweenness_centrality

    edges = _random_graph(11, n_nodes=20, n_edges=30)
    e = spark.createDataFrame(edges, ["src", "dst"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    all_nodes = sorted({a for a, _ in edges})
    half_a = all_nodes[::2]
    half_b = [n for n in all_nodes if n not in half_a]
    full = {r["node"]: r["bc"] for r in betweenness_centrality(g, local=True).collect()}
    pa = {r["node"]: r["bc"] for r in betweenness_centrality(g, sources=half_a, local=True).collect()}
    pb = {r["node"]: r["bc"] for r in betweenness_centrality(g, sources=half_b, local=True).collect()}
    for n in full:
        assert abs(pa.get(n, 0.0) + pb.get(n, 0.0) - full[n]) < 1e-9, n


def _py_propose_accept(edges, rounds=3):
    """Python reference for the propose-accept matching rounds."""
    remaining = list(edges)
    matched = []
    for rnd in range(1, rounds + 1):
        best_prop = {}
        for s, d, w in remaining:
            cur = best_prop.get(s)
            if cur is None or (-w, d) < (-cur[1], cur[0]):
                best_prop[s] = (d, w)
        best_acc = {}
        for s, (d, w) in best_prop.items():
            cur = best_acc.get(d)
            if cur is None or (-w, s) < (-cur[1], cur[0]):
                best_acc[d] = (s, w)
        acc = [(s, d, w, rnd) for d, (s, w) in best_acc.items()]
        if not acc:
            break
        matched.extend(acc)
        used = {s for s, d, w, _ in acc} | {d for s, d, w, _ in acc}
        remaining = [(s, d, w) for s, d, w in remaining if s not in used and d not in used]
        if not remaining:
            break
    return matched


@pytest.mark.parametrize("seed", SEEDS)
def test_matching_reference_parity_and_disjointness(spark, seed):
    from graph_spark.graph.algorithms import maximal_weight_matching

    rng = random.Random(seed * 17)
    edges = []
    seen = set()
    while len(edges) < 80:
        a, b = rng.randrange(25), rng.randrange(25)
        if (a, b) in seen:
            continue
        seen.add((a, b))
        edges.append((f"l{a}", f"r{b}", float(rng.randrange(1, 500))))
    want = {(s, d): (w, r) for s, d, w, r in _py_propose_accept(edges)}
    e = spark.createDataFrame(edges, ["src", "dst", "weight"])
    got = {
        (r["src"], r["dst"]): (r["weight"], r["rnd"])
        for r in maximal_weight_matching(e, rounds=3).collect()
    }
    assert got == want, f"seed={seed}"
    nodes = [n for s, d in got for n in (s, d)]
    assert len(nodes) == len(set(nodes)), f"matching not disjoint seed={seed}"


def test_kmeans_inertia_monotone(spark):
    """Lloyd's objective never increases: total inertia after i
    assignment rounds is non-increasing in i."""
    from pyspark.sql import functions as F

    from graph_spark.catalog import Catalog
    from graph_spark.operators.similarity import kmeans_lloyd

    emb = Catalog(spark, "/root/testdata/sf0.001").table("embeddings")
    inertias = []
    for iters in (1, 2, 3):
        a = kmeans_lloyd(emb, k=6, iters=iters)
        inertias.append(a.agg(F.sum("dist")).first()[0])
    assert inertias[0] >= inertias[1] >= inertias[2], inertias


@pytest.mark.parametrize("seed", SEEDS)
def test_temporal_align_matches_point_reads(spark, seed):
    """align(): at every output row, each widened column must equal the
    prop's latest value <= that row's ts (piecewise-constant point
    read), NULL before the first change-point."""
    import datetime as dt

    from graph_spark.temporal.tprop import align

    rng = random.Random(seed * 13)
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for ent in range(5):
        for prop in ("a", "b"):
            for _ in range(rng.randrange(1, 8)):
                ts = t0 + dt.timedelta(minutes=rng.randrange(10_000))
                rows.append((f"e{ent}", prop, ts, float(rng.randrange(100))))
    # dedupe same (entity, prop, ts) writes — align requires upstream
    # disambiguation of same-ts same-prop rows
    seen = {}
    for e, p, ts, v in rows:
        seen[(e, p, ts)] = v
    data = [(e, p, ts, v) for (e, p, ts), v in seen.items()]
    tp = spark.createDataFrame(data, ["entity_id", "prop", "ts", "value"])
    got = align(tp, ["a", "b"]).collect()

    series = {}
    for e, p, ts, v in data:
        series.setdefault((e, p), []).append((ts, v))
    for s in series.values():
        s.sort()

    def point_read(e, p, ts):
        best = None
        for t, v in series.get((e, p), []):
            if t <= ts:
                best = v
        return best

    union_pts = {(e, ts) for e, p, ts, v in data}
    assert {(r["entity_id"], r["ts"]) for r in got} == union_pts
    for r in got:
        for p in ("a", "b"):
            assert r[p] == point_read(r["entity_id"], p, r["ts"]), r


def _py_kruskal(edges_undirected):
    """Kruskal reference: with DISTINCT weights the MSF is unique, so
    any correct algorithm must produce the same edge set."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest = []
    for w, a, b in sorted((w, a, b) for a, b, w in edges_undirected):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            forest.append((min(a, b), max(a, b), w))
    return sorted(forest)


@pytest.mark.parametrize("seed", SEEDS)
def test_boruvka_msf_matches_kruskal(spark, seed):
    from graph_spark.graph.algorithms import minimum_spanning_forest

    rng = random.Random(seed * 23)
    undirected = []
    seen = set()
    while len(undirected) < 60:
        a, b = rng.randrange(30), rng.randrange(30)
        if a == b:
            continue
        key = (min(a, b), max(a, b))
        if key in seen:
            continue
        seen.add(key)
        undirected.append((f"n{key[0]}", f"n{key[1]}", None))
    # distinct weights -> unique MSF
    weights = rng.sample(range(1, 10_000), len(undirected))
    undirected = [(a, b, float(w)) for (a, b, _), w in zip(undirected, weights)]
    want = _py_kruskal(undirected)
    sym = undirected + [(b, a, w) for a, b, w in undirected]
    e = spark.createDataFrame(sym, ["src", "dst", "weight"])
    got = sorted(
        (r["src"], r["dst"], r["weight"])
        for r in minimum_spanning_forest(e).collect()
    )
    assert got == want, f"seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_sweep_concurrency_integral_identity(spark, seed):
    """Σ(conc × dwell) over the sweep == Σ(interval lengths): the
    sweep-line's defining integral identity, plus non-negativity
    (starts-before-ends at equal instants)."""
    from graph_spark.operators.relational import sweep_concurrency

    rng = random.Random(seed)
    iv = [
        (s, s + rng.randint(0, 50))
        for s in (rng.randint(0, 200) for _ in range(60))
    ]
    df = spark.createDataFrame(iv, ["st", "en"])
    runs = sweep_concurrency(df).collect()
    assert all(r["conc"] >= 0 for r in runs)
    integral = sum(
        r["conc"] * (r["nxt"] - r["t"]) for r in runs if r["nxt"] is not None
    )
    assert integral == sum(e - s for s, e in iv)


@pytest.mark.parametrize("seed", SEEDS)
def test_skew_audit_bounds_and_uniform_gini(spark, seed):
    from graph_spark.operators.relational import skew_audit

    rng = random.Random(seed)
    rows = [(rng.randint(0, 20),) for _ in range(500)]
    a = skew_audit(spark.createDataFrame(rows, ["k"]), "k").collect()[0]
    assert 0.0 <= a["gini"] <= 1.0
    assert a["top1_share"] >= 1.0 / a["n_keys"]
    assert a["total_rows"] == 500

    # perfectly uniform keys -> gini == 0
    uni = [(i % 10,) for i in range(500)]
    u = skew_audit(spark.createDataFrame(uni, ["k"]), "k").collect()[0]
    assert u["gini"] == 0.0 and u["cv"] == 0.0


def test_katz_walk_counts_path_graph(spark):
    """On the directed path a->b->c->d the walk counts are known in
    closed form: w_l(v) = 1 iff a path of length l ends at v."""
    from graph_spark.graph.algorithms import katz_walk_counts

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    out = {r["node"]: (r["w1"], r["w2"], r["w3"]) for r in katz_walk_counts(e, 3).collect()}
    assert out == {"b": (1, 0, 0), "c": (1, 1, 0), "d": (1, 1, 1)}


def test_knn_label_vote_separated_clusters(spark):
    """Two well-separated integer clusters -> leave-one-out 1.0
    accuracy with any k smaller than the cluster size."""
    from graph_spark.operators.similarity import knn_label_vote

    rows = []
    for i in range(8):
        rows.append((i, 0, [0.001 * i, 0.0]))
        rows.append((100 + i, 1, [10.0 + 0.001 * i, 0.0]))
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    pred = knn_label_vote(df, k=3).collect()
    assert len(pred) == 16
    assert all(r["pred"] == r["label"] for r in pred)


@pytest.mark.parametrize("seed", SEEDS)
def test_skyline_matches_bruteforce(spark, seed):
    """q93's two-window-pass skyline == the O(n^2) dominance
    definition on random integer points (ties included)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    pts = [(i, rng.randint(0, 20), rng.randint(0, 20)) for i in range(120)]
    df = spark.createDataFrame(pts, ["pid", "rev", "cnt"])

    pr = df.groupBy("rev").agg(F.max("cnt").alias("emax"))
    mr = pr.select(
        "rev",
        "emax",
        F.max("emax")
        .over(Window.orderBy(F.desc("rev")).rowsBetween(Window.unboundedPreceding, -1))
        .alias("m"),
    )
    sky = (
        df.join(mr, "rev")
        .filter(
            ~(
                (F.coalesce(F.col("m"), F.lit(-1)) >= F.col("cnt"))
                | (F.col("emax") > F.col("cnt"))
            )
        )
        .select("pid")
    )
    got = {r["pid"] for r in sky.collect()}

    def dominated(p):
        return any(
            q[1] >= p[1] and q[2] >= p[2] and (q[1] > p[1] or q[2] > p[2])
            for q in pts
            if q is not p
        )

    want = {p[0] for p in pts if not dominated(p)}
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_largest_remainder_sums_to_budget(spark, seed):
    """Hamilton apportionment invariant (q96 shape): integer
    allocations sum EXACTLY to the budget and differ from exact
    proportional shares by < 1 unit each."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    budget = 10007
    rows = [(f"s{i}", rng.randint(1, 10**6)) for i in range(17)]
    r = spark.createDataFrame(rows, ["seg", "rev"])
    t = r.agg(F.sum("rev").alias("tot"))
    a = r.crossJoin(F.broadcast(t)).select(
        "seg",
        "rev",
        "tot",
        F.expr(f"({budget} * rev) DIV tot").alias("base"),
        ((budget * F.col("rev")) % F.col("tot")).alias("frac"),
    )
    k = a.agg((F.lit(budget) - F.sum("base")).cast("long").alias("k"))
    rk = a.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("frac"), "seg"))
    )
    out = rk.crossJoin(F.broadcast(k)).select(
        "seg",
        "rev",
        "tot",
        (F.col("base") + F.when(F.col("rn") <= F.col("k"), 1).otherwise(0)).alias(
            "alloc"
        ),
    ).collect()
    assert sum(r["alloc"] for r in out) == budget
    for row in out:
        exact = budget * row["rev"] / row["tot"]
        assert abs(row["alloc"] - exact) < 1.0


@pytest.mark.parametrize("seed", SEEDS)
def test_katz_local_distributed_reference_parity(spark, seed, monkeypatch):
    """katz_centrality == plain-python truncated Katz on random sparse
    graphs, on both execution paths."""
    from graph_spark.graph.algorithms import katz_centrality

    edges = _random_graph(seed)
    alpha, iters = 0.01, 5
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    x = {n: 1.0 for n in nodes}
    for _ in range(iters):
        acc = {n: 0.0 for n in nodes}
        for a, b in edges:
            acc[b] += x[a]
        x = {n: 1.0 + alpha * acc[n] for n in nodes}
    e = spark.createDataFrame(edges, ["src", "dst"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    for local, limit in PREGEL_MODES:
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        got = {
            r["node"]: r["katz"]
            for r in katz_centrality(g, iterations=iters, alpha=alpha, local=local).collect()
        }
        assert got.keys() == x.keys(), f"local={local} limit={limit} seed={seed}"
        for n in x:
            assert abs(got[n] - x[n]) < 1e-9, f"local={local} limit={limit} node={n}"


@pytest.mark.parametrize("seed", SEEDS)
def test_louvain_local_distributed_reference_parity(spark, seed, monkeypatch):
    """Synchronous integer local-moving rounds == plain-python reference
    on random sparse graphs, on both execution paths (tie-breaks and all
    — the scores are exact integers, so equality is exact)."""
    from graph_spark.graph.algorithms import louvain_local_rounds

    edges = _random_graph(seed)
    m2 = len(edges)
    nodes = sorted({a for a, _ in edges})
    k = {n: 0 for n in nodes}
    for a, _ in edges:
        k[a] += 1
    comm = {n: n for n in nodes}
    for _ in range(3):
        sigma = {}
        for nd in nodes:
            sigma[comm[nd]] = sigma.get(comm[nd], 0) + k[nd]
        evc = {}
        for a, b in edges:
            key = (a, comm[b])
            evc[key] = evc.get(key, 0) + 1
        nxt = {}
        for nd in nodes:
            cands = sorted({c for (v, c) in evc if v == nd} | {comm[nd]})
            bs = bc = None
            for c in cands:
                e = evc.get((nd, c), 0)
                sig_ex = sigma.get(c, 0) - (k[nd] if comm[nd] == c else 0)
                s = m2 * e - k[nd] * sig_ex
                if bs is None or s > bs:
                    bs, bc = s, c
            nxt[nd] = bc
        comm = nxt
    e = spark.createDataFrame(edges, ["src", "dst"])
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)
    for local, limit in PREGEL_MODES:
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        got = {
            r["node"]: r["comm"]
            for r in louvain_local_rounds(g, rounds=3, local=local).collect()
        }
        assert got == comm, f"local={local} limit={limit} seed={seed}"


def test_threshold_cascade_reference_parity(spark, monkeypatch):
    """threshold_cascade == the python synchronous majority spread
    (2 * active neighbors >= degree) on a fixed random graph, in both
    superstep layouts; a seed no edge touches is reported at r = 0."""
    edges = _random_graph(11, n_nodes=40, n_edges=60)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    seeds = ["n0", "n7", "n13", "lonely"]
    want = {u: 0 for u in seeds}
    for i in range(1, 5):
        new = {
            u
            for u, ns in adj.items()
            if u not in want and 2 * sum(w in want for w in ns) >= len(ns)
        }
        want.update(dict.fromkeys(new, i))
    assert max(want.values()) > 1  # the spread runs past the first round
    e = spark.createDataFrame(edges, ["src", "dst"])
    s = spark.createDataFrame([(u,) for u in seeds], ["node"])
    for limit in (STATE_LIMIT, 0):
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        got = {r["node"]: r["r"] for r in alg.threshold_cascade(e, s, rounds=4).collect()}
        assert got == want, f"limit={limit}"


@pytest.mark.parametrize("seed", SEEDS)
def test_incremental_cc_equals_full_recompute(spark, seed):
    """Incremental CC (contract new edges onto old labels) must equal a
    full recompute on the union graph — including brand-new nodes and
    multi-component merges."""
    from graph_spark.graph.algorithms import connected_components, incremental_components

    edges = _random_graph(seed)
    half = len(edges) // 2
    old, new = edges[:half], edges[half:]
    # keep symmetry within each batch
    old = sorted(set(old) | {(b, a) for a, b in old})
    new = sorted(set(new) | {(b, a) for a, b in new})
    e_old = spark.createDataFrame(old, ["src", "dst"])
    e_new = spark.createDataFrame(new, ["src", "dst"])
    e_all = spark.createDataFrame(sorted(set(old) | set(new)), ["src", "dst"])
    g_old = PropertyGraph(e_old.select(F.col("src").alias("id")).distinct(), e_old)
    g_all = PropertyGraph(e_all.select(F.col("src").alias("id")).distinct(), e_all)
    labels0 = connected_components(g_old)
    got = {
        r["node"]: r["component"]
        for r in incremental_components(labels0, e_new).collect()
    }
    want = {r["node"]: r["component"] for r in connected_components(g_all).collect()}
    assert got == want, f"seed={seed}"


def _py_pagerank(edges, iters, damping):
    adj, deg, nodes = {}, {}, set()
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        deg[a] = deg.get(a, 0) + 1
        nodes.update((a, b))
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        acc = {v: 0.0 for v in nodes}
        for u, r in rank.items():
            if deg.get(u):
                share = r / deg[u]
                for v in adj[u]:
                    acc[v] += share
        rank = {v: (1.0 - damping) / n + damping * acc[v] for v in nodes}
    return rank


@pytest.mark.parametrize("seed", SEEDS)
def test_pagerank_all_modes_reference_parity(spark, seed, monkeypatch):
    """pagerank == plain-python reference on all three execution paths,
    including the shuffle-state superstep (VERTEX_STATE_BROADCAST_LIMIT
    forced to 0)."""
    from graph_spark.graph.algorithms import pagerank

    edges = _random_graph(seed)
    want = _py_pagerank(edges, 5, 0.85)
    e = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(e.select(F.col("src").alias("id")).distinct(), e)
    for local, limit in PREGEL_MODES:
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        got = {r["node"]: r["rank"] for r in pagerank(g, 5, local=local).collect()}
        assert got.keys() == want.keys(), f"local={local} limit={limit} seed={seed}"
        for n in want:
            assert abs(got[n] - want[n]) < 1e-9, f"local={local} limit={limit} node={n}"


def test_rank_variants_agree_in_all_modes(spark, monkeypatch):
    """The three PageRanks are one rank propagation: pagerank ==
    personalized_pagerank seeded on every node == pagerank_weighted
    over unit weights, to 1e-12, on all three execution paths."""
    edges = _random_graph(5)
    e = spark.createDataFrame([(a, b, 1.0) for a, b in edges], ["src", "dst", "weight"])
    g = PropertyGraph(e.select(F.col("src").alias("id")).distinct(), e)
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    for local, limit in PREGEL_MODES:
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        runs = [
            alg.pagerank(g, 6, local=local),
            alg.personalized_pagerank(g, nodes, 6, local=local),
            alg.pagerank_weighted(g, 6, local=local),
        ]
        plain, ppr, weighted = ({r["node"]: r["rank"] for r in df.collect()} for df in runs)
        assert plain.keys() == ppr.keys() == weighted.keys() == set(nodes)
        for n in nodes:
            assert abs(plain[n] - ppr[n]) < 1e-12, f"local={local} limit={limit} node={n}"
            assert abs(plain[n] - weighted[n]) < 1e-12, f"local={local} limit={limit} node={n}"


def test_pregel_auto_routes_to_shuffle_state(spark, monkeypatch):
    """With VERTEX_STATE_BROADCAST_LIMIT forced to 0, the superstep driver
    must auto-pick the shuffle-state layout and still match the numpy
    kernel — the guard that the >limit routing is both wired and correct."""
    monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", 0)
    edges = _random_graph(11)
    e = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(e.select(F.col("src").alias("id")).distinct(), e)
    want = {r["node"]: r["rank"] for r in alg.pagerank(g, 4, local=True).collect()}
    got = {r["node"]: r["rank"] for r in alg.pagerank(g, 4, local=False).collect()}
    assert got.keys() == want.keys()
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, n
    wc = {
        r["node"]: r["component"]
        for r in alg.connected_components(g, local=True).collect()
    }
    gc = {
        r["node"]: r["component"]
        for r in alg.connected_components(g, local=False).collect()
    }
    assert gc == wc


@pytest.mark.parametrize("seed", SEEDS)
def test_grid_radius_pairs_matches_bruteforce(spark, seed):
    """operators/spatial.grid_radius_pairs on random integer points ==
    O(n^2) brute force: same pair set, same squared distances, no pair
    duplicated by the 9-cell replication."""
    import random as _random

    from graph_spark.operators.spatial import grid_radius_pairs

    rng = _random.Random(seed)
    pts = [(i, rng.randrange(2000), rng.randrange(2000)) for i in range(120)]
    pdf = spark.createDataFrame(pts, ["id", "x", "y"])
    got = sorted(tuple(r) for r in grid_radius_pairs(pdf, cell=300, radius2=90000).collect())
    want = sorted(
        (a, b, (xa - xb) ** 2 + (ya - yb) ** 2)
        for (a, xa, ya) in pts
        for (b, xb, yb) in pts
        if a < b and (xa - xb) ** 2 + (ya - yb) ** 2 <= 90000
    )
    assert got == want, f"seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_cypher_shortest_path_matches_python_bfs(spark, seed):
    """shortestPath((a {node:..})-[*1..6]->(b)) == python BFS levels on
    the same random digraph (capped at 6 hops)."""
    import random as _random

    from graph_spark.graph.cypher import CypherGraph, cypher

    rng = _random.Random(seed)
    edges = set()
    while len(edges) < 150:
        a, b = rng.randrange(40), rng.randrange(40)
        if a != b:
            edges.add((f"n{a}", f"n{b}"))
    edges = sorted(edges)
    edf = spark.createDataFrame(edges, ["src", "dst"])
    verts = edf.select(F.col("src").alias("id")).distinct()
    cg = CypherGraph(PropertyGraph(verts, edf))
    df = cypher(
        cg,
        "MATCH p = shortestPath((a {node: 'n0'})-[*1..6]->(b)) "
        "RETURN b, length(p) AS hops ORDER BY b",
    )
    got = {r["b"]: r["hops"] for r in df.collect()}
    # python BFS from n0, levels 1..6
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    # the source itself is reachable through a cycle (min_len >= 1, so
    # n0 -> .. -> n0 counts) — matching the engine and the g105 oracle
    want, frontier, seen = {}, ["n0"], set()
    for lvl in range(1, 7):
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in seen:
                    seen.add(v)
                    want[v] = lvl
                    nxt.append(v)
        frontier = nxt
    assert got == want, f"seed={seed}"


# ------------------------------------------ round-6 estimator laws


def _did_on(spark, rows):
    """Run the q155 DiD algebra on a synthetic (treated, post, y) frame
    and return the estimate (unrounded)."""
    df = spark.createDataFrame(rows, "treated int, post int, y double")
    cell = df.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("y") * 100 + F.lit(0.5)).cast("long")).alias("s"),
    )
    m = cell.select(
        "treated",
        "post",
        (F.col("s").cast("double") / F.col("n") / F.lit(100.0)).alias("mean"),
    )

    def cm(t, p):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mean"))
        )

    return m.agg((cm(1, 1) - cm(1, 0) - cm(0, 1) + cm(0, 0)).alias("did")).collect()[
        0
    ].did


@pytest.mark.parametrize("seed", SEEDS)
def test_did_nets_out_level_and_common_trend(spark, seed):
    """DiD law: a constant group-level difference and a common time
    trend both cancel; only the treatment-period interaction survives."""
    rng = random.Random(seed)
    level, trend, effect = rng.randint(1, 50), rng.randint(1, 30), rng.randint(1, 20)
    rows = []
    for _ in range(200):
        for treated in (0, 1):
            for post in (0, 1):
                base = 100.0 + treated * level + post * trend
                y = base + (effect if treated and post else 0)
                rows.append((treated, post, float(y)))
    got = _did_on(spark, rows)
    assert got == pytest.approx(effect, abs=0.02)


def test_split_conformal_coverage_law(spark):
    """Conformal guarantee: with exchangeable cal/test scores, coverage
    of the ceil((n+1)(1-a))-quantile interval is >= 1-a in expectation;
    on a 2000-row md5-split sample it must not undershoot materially."""
    from graph_spark.queries.registry import by_name

    from .conftest import SF_SMOKE

    # run the declared builder on the fixture data and check the law
    rows = by_name()["q154_split_conformal"].build(spark, SF_SMOKE).collect()
    assert rows, "conformal query returned no groups"
    for r in rows:
        # 90% nominal; allow finite-sample slack of 4 sigma of a
        # Bernoulli(0.9) mean over n_test draws
        slack = 4 * (0.09 / r.n_test) ** 0.5
        assert r.coverage >= 0.9 - slack, (r.grp, r.coverage, r.n_test)


def test_slope_one_recovers_additive_ratings(spark):
    """Slope One law: on a complete additive rating matrix
    r(u, i) = a_u + b_i, held-out predictions are EXACT (the
    deviation algebra reproduces b_j - b_i perfectly)."""
    users = {f"u{k}": 10 + 3 * k for k in range(6)}
    items = {f"i{k}": 2 * k for k in range(5)}
    rows = [
        (u, i, au + bi)
        for u, au in users.items()
        for i, bi in items.items()
        if not (u == "u0" and i == "i4")  # hold out one cell
    ]
    r = spark.createDataFrame(rows, "u string, i string, rt long")
    b = r.select("u", F.col("i").alias("i2"), F.col("rt").alias("rt2"))
    dev = (
        r.join(b, "u")
        .filter(F.col("i") != F.col("i2"))
        .groupBy(F.col("i").alias("j"), F.col("i2").alias("i"))
        .agg(
            F.sum(F.col("rt") - F.col("rt2")).cast("long").alias("dnum"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    rated = r.select("u", F.col("i").alias("j"))
    pred = (
        r.join(dev.filter(F.col("j") == "i4"), "i")
        .join(rated, ["u", "j"], "left_anti")
        .groupBy("u", "j")
        .agg(
            F.sum(F.col("dnum") + F.col("rt") * F.col("c")).cast("long").alias("pnum"),
            F.sum("c").cast("long").alias("pden"),
        )
        .collect()
    )
    assert len(pred) == 1
    p = pred[0]
    assert p.u == "u0" and p.pnum % p.pden == 0
    assert p.pnum // p.pden == users["u0"] + items["i4"]


def test_periodogram_detects_planted_period(spark):
    """A planted 8-day cycle (k = 4 of 32) must dominate the spectrum
    the t89 algebra computes."""
    import math

    from graph_spark.queries.qsuite import _DFT_KMAX, _DFT_N, _dft_trig

    xs = [1000 + round(300 * math.cos(2 * math.pi * t / 8)) for t in range(32)]
    s = spark.createDataFrame(
        [(t, x) for t, x in enumerate(xs)], "t int, x long"
    )
    trig = spark.createDataFrame(
        _dft_trig(_DFT_N, _DFT_KMAX), "k int, t int, c long, sn long"
    )
    f = (
        F.broadcast(trig)
        .join(s, "t")
        .groupBy("k")
        .agg(
            F.sum(F.col("x") * F.col("c")).cast("long").alias("a"),
            F.sum(F.col("x") * F.col("sn")).cast("long").alias("b"),
        )
        .select("k", (F.col("a") * F.col("a") + F.col("b") * F.col("b")).alias("p"))
        .collect()
    )
    powers = {r.k: r.p for r in f}
    assert max(powers, key=powers.get) == 4
    assert powers[4] > 10 * max(v for k, v in powers.items() if k != 4)


@pytest.mark.parametrize("seed", SEEDS)
def test_shortest_path_nodes_lexmin_matches_bruteforce(spark, seed):
    """The nodes(p) binding's greedy per-level array min must equal
    the GLOBAL lexicographically smallest shortest path (the proof in
    _shortest_frame: every prefix of the global lex-min path is the
    lex-min shortest path to its endpoint) — pinned here against a
    brute-force enumeration of ALL shortest paths on random directed
    graphs."""
    from graph_spark.graph.cypher import CypherGraph, cypher

    rng = random.Random(seed)
    edges = set()
    while len(edges) < 60:
        a, b = rng.randrange(25), rng.randrange(25)
        if a != b:
            edges.add((f"n{a:02d}", f"n{b:02d}"))
    edges = sorted(edges)
    max_hops = 4

    # brute force: BFS level sets, then enumerate all shortest paths
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)

    def all_shortest(src):
        dist = {src: 0}
        frontier = [src]
        d = 0
        while frontier and d < max_hops:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = d + 1
                        nxt.append(v)
            frontier, d = nxt, d + 1
        # (n0,n0)-style returns: the compiled BFS can re-reach the seed
        # (trail-valid in a directed graph); python mirror for pairs
        paths = {}
        def walk(u, path):
            if len(path) - 1 > max_hops:
                return
            for v in adj.get(u, ()):
                np_ = path + [v]
                tgt = paths.setdefault(v, [])
                tgt.append(np_)
                if len(np_) - 1 < max_hops:
                    walk(v, np_)
        walk(src, [src])
        best = {}
        for v, ps in paths.items():
            mlen = min(len(p) for p in ps)
            best[v] = min(p for p in ps if len(p) == mlen)
        return best

    edf = spark.createDataFrame(edges, ["src", "dst"])
    verts = edf.select(F.col("src").alias("id")).distinct()
    cg = CypherGraph(PropertyGraph(verts, edf), rel_types={"E": edf})
    got = {
        (r.a, r.b): (r.hops, list(r.ns))
        for r in cypher(
            cg,
            f"MATCH p = shortestPath((a)-[:E*1..{max_hops}]->(b)) "
            "RETURN a, b, length(p) AS hops, nodes(p) AS ns",
        ).collect()
    }
    want = {}
    for src in sorted({a for a, _ in edges}):
        for v, path in all_shortest(src).items():
            want[(src, v)] = (len(path) - 1, path)
    assert got == want
    # the declared partition-invariance sample runs these names on the
    # sf0.001 fixture whose trade graph is EMPTY, so pin the layout
    # independence of the min-path protocol here, where paths exist
    if seed == SEEDS[0]:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            got7 = {
                (r.a, r.b): (r.hops, list(r.ns))
                for r in cypher(
                    cg,
                    f"MATCH p = shortestPath((a)-[:E*1..{max_hops}]->(b)) "
                    "RETURN a, b, length(p) AS hops, nodes(p) AS ns",
                ).collect()
            }
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert got7 == want


@pytest.mark.parametrize("seed", SEEDS)
def test_path_enumeration_matches_python_trails(spark, seed):
    """General named-path binding must enumerate exactly the openCypher
    TRAILS (no relationship repeated) of each bounded length — pinned
    against python DFS enumeration on random directed graphs with
    self-loops kept (a self-loop is one relationship: usable once)."""
    from graph_spark.graph.cypher import CypherGraph, cypher

    rng = random.Random(seed + 99)
    edges = set()
    while len(edges) < 40:
        a, b = rng.randrange(12), rng.randrange(12)
        edges.add((f"n{a:02d}", f"n{b:02d}"))  # self-loops allowed
    edges = sorted(edges)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)

    want = set()

    def walk(u, path, used):
        if 1 <= len(path) - 1 <= 3:
            want.add(tuple(path))
        if len(path) - 1 >= 3:
            return
        for v in adj.get(u, ()):
            rel = (u, v)
            if rel in used:
                continue
            walk(v, path + [v], used | {rel})

    for src in sorted({a for a, _ in edges} | {b for _, b in edges}):
        walk(src, [src], frozenset())

    edf = spark.createDataFrame(edges, ["src", "dst"])
    verts = edf.select(F.col("src").alias("id")).distinct()
    cg = CypherGraph(PropertyGraph(verts, edf), rel_types={"E": edf})
    got = {
        tuple(r.ns)
        for r in cypher(
            cg,
            "MATCH p = (a)-[:E*1..3]->(b) RETURN nodes(p) AS ns",
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_correlated_call_matches_python_reference(spark, seed):
    """r9 correlated CALL { WITH a .. }: the set-at-a-time lowering
    (keyed pre-aggregate + left join + Neo4j zero-row identities) must
    equal a per-row Python evaluation of the subquery on random
    weighted digraphs — including sources whose every out-edge fails
    the body's WHERE (the count 0 / sum 0 fill rows)."""
    from graph_spark.graph.cypher import CypherGraph, cypher

    rng = random.Random(seed)
    rows = []
    seen = set()
    while len(rows) < 90:
        a, b = rng.randrange(30), rng.randrange(30)
        if a != b and (a, b) not in seen:
            seen.add((a, b))
            rows.append((f"n{a}", f"n{b}", float(rng.randrange(1, 100))))
    edf = spark.createDataFrame(rows, ["src", "dst", "w"])
    cg = CypherGraph(
        PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf),
        rel_types={"E": edf},
    )
    thr = 50.0
    got = {
        (r.a, r.n_big, r.tot)
        for r in cypher(
            cg,
            "MATCH (a)-[e:E]->(b) WITH DISTINCT a "
            f"CALL {{ WITH a MATCH (a)-[f:E]->(x) WHERE f.w >= {thr} "
            "RETURN count(*) AS n_big, sum(f.w) AS tot } "
            "RETURN a, n_big, tot",
        ).collect()
    }
    # per-row reference: for each distinct source, evaluate the body
    want = set()
    for a in {s for s, _, _ in rows}:
        big = [w for s, _, w in rows if s == a and w >= thr]
        want.add((a, len(big), float(sum(big)) if big else 0.0))
    assert got == want, f"seed={seed}"
