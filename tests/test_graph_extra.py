"""Non-declared graph surface: weighted shortest paths (python oracle),
label propagation, motif matching, k-hop — SURVEY §2.C 'exposed' rows."""

from __future__ import annotations

import heapq
import random

import pytest
from pyspark.sql import functions as F

from graph_spark.graph.algorithms import label_propagation, shortest_paths_weighted
from graph_spark.graph.motif import find
from graph_spark.graph.property_graph import PropertyGraph


def _wgraph(seed: int, n: int = 40, m: int = 100):
    rng = random.Random(seed)
    edges = {}
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges[(f"n{a}", f"n{b}")] = round(rng.uniform(1, 10), 2)
    return [(a, b, w) for (a, b), w in sorted(edges.items())]


def _dijkstra(edges, source):
    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
    dist = {source: 0.0}
    pq = [(0.0, source)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")) - 1e-12:
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


@pytest.mark.parametrize("seed", [3, 99])
def test_weighted_shortest_paths_vs_dijkstra(spark, seed):
    edges = _wgraph(seed)
    edf = spark.createDataFrame(edges, ["src", "dst", "w"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    got = {r["node"]: r["dist"] for r in shortest_paths_weighted(g, "n0", "w", max_iter=60).collect()}
    want = _dijkstra(edges, "n0")
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k


@pytest.mark.parametrize(
    "seed,delta",
    [
        (13, 3.0),
        pytest.param(51, 1.0, marks=pytest.mark.nightly),
        pytest.param(51, 25.0, marks=pytest.mark.nightly),
    ],
)
def test_delta_stepping_matches_dijkstra(spark, seed, delta):
    """Delta-stepping must equal the Dijkstra reference exactly for any
    bucket width: delta=1 degenerates toward Dijkstra (every edge
    heavy), delta=25 toward Bellman-Ford (every edge light)."""
    from graph_spark.graph.algorithms import shortest_paths_delta_stepping

    edges = _wgraph(seed)
    edf = spark.createDataFrame(edges, ["src", "dst", "w"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths_delta_stepping(g, "n0", "w", delta=delta).collect()
    }
    want = _dijkstra(edges, "n0")
    assert got == want


def test_label_propagation_two_cliques(spark):
    # two 4-cliques joined by nothing: LPA must give each clique one label
    def clique(names):
        return [(a, b) for a in names for b in names if a != b]

    e = clique(["a1", "a2", "a3", "a4"]) + clique(["b1", "b2", "b3", "b4"])
    edf = spark.createDataFrame(e, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    labels = {r["node"]: r["label"] for r in label_propagation(g, max_iter=6).collect()}
    assert len({labels[n] for n in ("a1", "a2", "a3", "a4")}) == 1
    assert len({labels[n] for n in ("b1", "b2", "b3", "b4")}) == 1
    assert labels["a1"] != labels["b1"]


def test_motif_triangle_and_chain(spark):
    e = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    edf = spark.createDataFrame(e, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    tri = find(g, ["x->y", "y->z", "z->x"], distinct_vertices=True).collect()
    # the single directed triangle a->b->c->a in 3 rotations
    assert {tuple(r) for r in tri} == {("a", "b", "c"), ("b", "c", "a"), ("c", "a", "b")}
    chains = find(g, ["x->y", "y->z"], distinct_vertices=True).collect()
    assert ("b", "c", "d") in {tuple(r) for r in chains}


def test_motif_self_loop_patterns(spark):
    """r9 self-review fix: 'a->a' used to alias src AND dst to the same
    column name (ambiguity error downstream); now it matches self-loop
    rows with a single column, composing with other patterns in both
    first and later join positions."""
    e = [("a", "a"), ("a", "b"), ("b", "c"), ("c", "a"), ("c", "c")]
    edf = spark.createDataFrame(e, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    assert sorted(r.a for r in find(g, ["a->a"]).collect()) == ["a", "c"]
    # self-loop first, then expand
    assert sorted(tuple(r) for r in find(g, ["a->a", "a->b"]).collect()) == [
        ("a", "a"), ("a", "b"), ("c", "a"), ("c", "c")]
    # expand first, self-loop joined second
    assert sorted(tuple(r) for r in find(g, ["a->b", "b->b"]).collect()) == [
        ("a", "a"), ("b", "c"), ("c", "a"), ("c", "c")]
    # distinct_vertices drops the loop-degenerate triangles
    tri = find(g, ["x->y", "y->z", "z->x"], distinct_vertices=True).collect()
    assert {tuple(r) for r in tri} == {
        ("a", "b", "c"), ("b", "c", "a"), ("c", "a", "b")}


def test_kcore_two_cliques_with_tail(spark):
    """4-clique has a 3-core; pendant tail nodes peel away."""
    from graph_spark.graph.algorithms import k_core

    def clique(names):
        return [(a, b) for a in names for b in names if a != b]

    e = clique(["a", "b", "c", "d"]) + [("d", "t1"), ("t1", "d"), ("t1", "t2"), ("t2", "t1")]
    edf = spark.createDataFrame(e, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    core3 = {r["node"]: r["degree"] for r in k_core(g, 3).collect()}
    assert set(core3) == {"a", "b", "c", "d"} and all(d == 3 for d in core3.values())
    core1 = {r["node"] for r in k_core(g, 1).collect()}
    assert core1 == {"a", "b", "c", "d", "t1", "t2"}
    assert k_core(g, 4).count() == 0


def _tarjan(edges):
    """Reference SCC (Tarjan, iterative) — different algorithm from the
    operator's Kosaraju kernel, so the test is a real cross-check."""
    adj = {}
    nodes = set()
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        nodes.update((a, b))
    index = {}
    low = {}
    onstack = set()
    stack = []
    comps = []
    counter = [0]

    def strongconnect(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                onstack.add(v)
            recurse = False
            for i in range(pi, len(adj.get(v, []))):
                w = adj.get(v, [])[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in onstack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                comps.append(comp)
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    out = {}
    for comp in comps:
        rep = min(comp)
        for m in comp:
            out[m] = rep
    return out


@pytest.mark.parametrize("seed", [11, 77])
def test_scc_matches_tarjan(spark, seed):
    from graph_spark.graph.algorithms import strongly_connected_components

    rng = random.Random(seed)
    edges = sorted({(f"n{rng.randrange(30)}", f"n{rng.randrange(30)}") for _ in range(70)})
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    got = {r["node"]: r["component"] for r in strongly_connected_components(g).collect()}
    want = _tarjan(edges)
    assert got == want


@pytest.mark.parametrize(
    "seed",
    [42, pytest.param(5, marks=pytest.mark.nightly), pytest.param(99, marks=pytest.mark.nightly)],
)
def test_scc_distributed_matches_tarjan(spark, seed):
    """The distributed Min-Label path (local=False) must produce the
    byte-identical (node, component) map as the Tarjan reference — same
    cross-check as the Kosaraju kernel gets, on denser digraphs that
    exercise several (fw, bw) groups per round, and (seed 99,
    max_rounds=1) the residue handoff."""
    from graph_spark.graph.algorithms import strongly_connected_components

    rng = random.Random(seed)
    n, m = (40, 120) if seed != 99 else (25, 45)
    edges = sorted({(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}") for _ in range(m)})
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    max_rounds = 1 if seed == 99 else 20
    got = {
        r["node"]: r["component"]
        for r in strongly_connected_components(g, local=False, max_rounds=max_rounds).collect()
    }
    want = _tarjan(edges)
    assert got == want


def test_scc_distributed_chain_of_cycles(spark, monkeypatch):
    """SCC-chain topology (cycle -> cycle -> cycle), with a self-loop and
    a node seen only in it: each round finalizes one cycle per (fw, bw)
    group, in the broadcast-state and the shuffle-state layout."""
    from graph_spark.graph import algorithms as alg

    edges = [("solo", "solo"), ("c0x1", "c0x1")]
    for c in range(4):  # 4 cycles of 4, chained
        ns = [f"c{c}x{i}" for i in range(4)]
        edges += [(ns[i], ns[(i + 1) % 4]) for i in range(4)]
        if c:
            edges.append((f"c{c-1}x0", ns[0]))
    edf = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    want = _tarjan(edges)
    for limit in (alg.VERTEX_STATE_BROADCAST_LIMIT, 0):
        monkeypatch.setattr(alg, "VERTEX_STATE_BROADCAST_LIMIT", limit)
        got = {
            r["node"]: r["component"]
            for r in alg.strongly_connected_components(g, local=False).collect()
        }
        assert got == want, f"limit={limit}"


@pytest.mark.parametrize("n, kwargs", [(100, {}), (30, {"max_inner": 5})])
def test_scc_distributed_cycle_longer_than_max_inner(spark, n, kwargs):
    """A directed cycle longer than max_inner (60 by default) cannot
    converge in one round's supersteps; the round goes to the Kosaraju
    residue instead of returning unconverged labels, which would split
    the one SCC into many."""
    from graph_spark.graph.algorithms import strongly_connected_components

    edges = [(f"n{i:03d}", f"n{(i + 1) % n:03d}") for i in range(n)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    got = {
        r["node"]: r["component"]
        for r in strongly_connected_components(g, local=False, **kwargs).collect()
    }
    assert got == _tarjan(edges)


def test_cc_distributed_unconverged_raises(spark):
    """An 80-node path needs 80 supersteps to converge; at the default
    max_iter=50 the distributed kernel must raise a named error, not
    return the path split into pieces."""
    from graph_spark.graph.algorithms import NotConvergedError, connected_components

    path = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(79)]
    edf = spark.createDataFrame(path + [(b, a) for a, b in path], ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    with pytest.raises(NotConvergedError, match="max_iter=50"):
        connected_components(g, local=False)
    assert connected_components(g, local=True).select("component").distinct().count() == 1


def _planted_digraph():
    """Three 5-cycles with chords, block 0 -> block 1, and three sources."""
    edges = []
    for b in range(3):
        ns = [f"b{b}n{i}" for i in range(5)]
        edges += [(ns[i], ns[(i + 1) % 5]) for i in range(5)] + [(ns[0], ns[2]), (ns[3], ns[1])]
    return edges + [("b0n4", "b1n0"), ("a0", "b0n0"), ("a1", "b0n3"), ("a2", "b1n2")]


def test_pregel_kernel_job_counts(spark):
    """Spark jobs started while building each distributed kernel, read
    from the status store.  Job counts do not depend on load, so they pin
    the superstep plan: FW-BW-Trim SCC took 192 jobs on this graph, cc
    33 and pagerank(3) 18; the hand-rolled loops took 64 (Bellman-Ford),
    30 (louvain_local_rounds(3)) and 29 (threshold_cascade(4)); with a
    separate halt job per superstep or hop scc took 54, cc 22,
    pagerank(3) 10, bfs 28, sssp 31, louvain 10, cascade 12 and
    k_core(2) 15.  A checkpoint that forgets the node partitioning, an
    extra per-superstep action, or a halt probe outside the checkpoint
    job shows up here.

    The kernels then run again: every plan is the same, so the second
    run compiles no whole-stage class (about 360 were compiled again
    while the generated-class cache held Spark's default 100)."""
    from graph_spark.graph import algorithms as alg

    edges = _planted_digraph()
    sym = sorted(set(edges) | {(b, a) for a, b in edges})
    graphs = []
    for es in (edges, sym, [(a, b, 1 + i % 4) for i, (a, b) in enumerate(edges)]):
        edf = spark.createDataFrame(es, ["src", "dst", "w"][: len(es[0])])
        graphs.append(PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf))
    g, g_sym, g_w = graphs
    seeds = spark.createDataFrame([("b0n0",), ("b0n2",), ("zz",)], ["node"])
    sc = spark.sparkContext
    kernels = (
        ("scc", lambda: alg.strongly_connected_components(g, local=False)),
        ("cc", lambda: alg.connected_components(g_sym, local=False)),
        ("pagerank", lambda: alg.pagerank(g, iterations=3, local=False)),
        ("bfs", lambda: alg.bfs_distances(g, "a0", 10, local=False)),
        ("sssp", lambda: alg.shortest_paths_weighted(g_w, "a0", "w", local=False)),
        ("louvain", lambda: alg.louvain_local_rounds(g_sym, rounds=3, local=False)),
        ("cascade", lambda: alg.threshold_cascade(g_sym.edges, seeds, rounds=4)),
        ("k_core", lambda: alg.k_core(g_sym, 2, local=False)),
    )
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jobs, recompiled = {}, 0
    for run in (1, 2):
        before = compiled.getCount()
        for name, build in kernels:
            group = f"job-count-{name}-{run}"
            sc.setJobGroup(group, group)
            try:
                build()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        recompiled = compiled.getCount() - before
    assert jobs["scc"] <= 37 and jobs["cc"] <= 15 and jobs["pagerank"] <= 9, jobs
    assert jobs["sssp"] <= 21 and jobs["louvain"] <= 9 and jobs["cascade"] <= 11, jobs
    assert jobs["bfs"] <= 19 and jobs["k_core"] <= 9, jobs
    assert recompiled == 0, recompiled


def test_static_plans_restore_aqe_across_threads(spark):
    """Overlapping superstep checkpoints on several threads must leave
    AQE as they found it: the first to enter saves the value and the
    last to leave restores it (a per-call save/restore left it off)."""
    import threading

    from graph_spark.graph.algorithms import _checkpoint

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = spark.range(2000).repartition(4, "id")
    errors = []

    def run(start):
        try:
            start.wait()
            for _ in range(3):
                _checkpoint(df)
        except Exception as exc:  # surfaced below, not swallowed
            errors.append(exc)

    # whether an unsafe save/restore ends on the saved `false` depends on
    # which thread leaves last, so one trial can pass by luck: repeat it
    for trial in range(5):
        start = threading.Barrier(4)
        threads = [threading.Thread(target=run, args=(start,)) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true", trial


def _bz_coreness(edges_sym):
    """Independent reference: Batagelj-Zaversnik sequential min-degree
    peel (different algorithm from the operator's increasing-k rounds)."""
    import heapq

    adj: dict[str, set] = {}
    for a, b in edges_sym:
        adj.setdefault(a, set()).add(b)
    deg = {v: len(ns) for v, ns in adj.items()}
    heap = [(d, v) for v, d in deg.items()]
    heapq.heapify(heap)
    core = {}
    k = 0
    while heap:
        d, v = heapq.heappop(heap)
        if v in core or d != deg[v]:
            continue  # stale entry
        k = max(k, d)
        core[v] = k
        for u in adj[v]:
            if u not in core:
                deg[u] -= 1
                heapq.heappush(heap, (deg[u], u))
    return core


@pytest.mark.parametrize("seed", [3, pytest.param(21, marks=pytest.mark.nightly)])
@pytest.mark.parametrize("local", [True, False])
def test_core_decomposition_matches_bz(spark, seed, local):
    from graph_spark.graph.algorithms import core_decomposition

    rng = random.Random(seed)
    base = sorted({(f"n{rng.randrange(25)}", f"n{rng.randrange(25)}") for _ in range(80)})
    base = [(a, b) for a, b in base if a != b]
    sym = sorted({*base, *[(b, a) for a, b in base]})
    edf = spark.createDataFrame(sym, ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    got = {
        r["node"]: r["coreness"] for r in core_decomposition(g, local=local).collect()
    }
    assert got == _bz_coreness(sym), f"local={local}"


def test_edge_count_memo_releases_frames(spark):
    """The routing edge-count memo must not pin DataFrames forever: once
    a routed edge frame is garbage-collected, its entry is dead and gets
    purged on the next lookup (long-lived sessions stay bounded)."""
    import gc

    from graph_spark.graph import algorithms as alg

    edf = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    assert alg._edge_count(g) == 2
    key = id(g.edges)
    assert key in alg._COUNT_MEMO
    # memoized: second call must not recount (poke the stored count)
    alg._COUNT_MEMO[key] = (alg._COUNT_MEMO[key][0], 99)
    assert alg._edge_count(g) == 99
    del g, edf
    gc.collect()
    assert alg._COUNT_MEMO.get(key) is None or alg._COUNT_MEMO[key][0]() is None
    # next lookup on a fresh frame purges the dead entry
    edf2 = spark.createDataFrame([("x", "y")], ["src", "dst"])
    g2 = PropertyGraph(edf2.select(F.col("src").alias("id")).distinct(), edf2)
    assert alg._edge_count(g2) == 1
    assert all(ref() is not None for ref, _ in alg._COUNT_MEMO.values())


def test_motif_rejects_disconnected(spark):
    edf = spark.createDataFrame([("a", "b")], ["src", "dst"])
    g = PropertyGraph(edf.select(F.col("src").alias("id")).distinct(), edf)
    with pytest.raises(ValueError, match="disconnected"):
        find(g, ["x->y", "p->q"])


def test_graph_algorithm_edge_cases(spark):
    """Degenerate inputs behave identically on local and distributed
    paths: k above max degree empties the core; BFS from an absent
    source returns just the source; SSSP omits unreachable nodes."""
    from pyspark.sql import functions as F

    from graph_spark.graph.algorithms import (
        bfs_distances,
        k_core,
        shortest_paths_weighted,
    )
    from graph_spark.graph.property_graph import PropertyGraph

    e = spark.createDataFrame(
        [("a", "b", 2), ("b", "a", 2), ("x", "y", 1), ("y", "x", 1)],
        ["src", "dst", "w"],
    )
    v = e.select(F.col("src").alias("id")).distinct()
    g = PropertyGraph(v, e)

    for local in (True, False):
        assert k_core(g, 5, local=local).count() == 0, f"local={local}"
        bfs = {r["node"]: r["d"] for r in bfs_distances(g, "zz", 2, local=local).collect()}
        assert bfs == {"zz": 0}, f"local={local}"
        dist = {
            r["node"]: r["dist"]
            for r in shortest_paths_weighted(g, "a", "w", max_iter=4, local=local).collect()
        }
        assert dist == {"a": 0.0, "b": 2.0}, f"local={local}"


class TestTraversalDescription:
    """The fluent traversal API must reproduce the declared queries it
    generalizes: plain BFS (g03 shape), snapshot BFS (g34), and
    time-respecting earliest arrival (g12)."""

    def test_plain_bfs_matches_g03(self, spark):
        from graph_spark.engine import Engine
        from graph_spark.queries.gsuite import QUERIES

        from .conftest import SF_SMOKE

        eng = Engine(spark, SF_SMOKE)
        got = {
            r["node"]: r["d"]
            for r in eng.traverse("c1").max_hops(4).run().collect()
        }
        g03 = next(q for q in QUERIES if q.name == "g03_bfs")
        want = {r["node"]: r["d"] for r in g03.build(spark, SF_SMOKE).collect()}
        assert got == want

    def test_snapshot_matches_g34(self, spark):
        from pyspark.sql import functions as F

        from graph_spark.engine import Engine
        from graph_spark.queries.gsuite import QUERIES

        from .conftest import SF_SMOKE

        eng = Engine(spark, SF_SMOKE)
        t = F.lit("1996-06-01").cast("timestamp")
        got = {
            r["node"]: r["d"]
            for r in eng.traverse("c1").max_hops(3).at_time(t).run().collect()
        }
        g34 = next(q for q in QUERIES if q.name == "g34_snapshot_bfs")
        want = {r["node"]: r["d"] for r in g34.build(spark, SF_SMOKE).collect()}
        assert got == want

    def test_time_respecting_matches_g12(self, spark):
        from graph_spark.engine import Engine
        from graph_spark.queries.common import ts_str
        from graph_spark.queries.gsuite import QUERIES

        from .conftest import SF_SMOKE

        eng = Engine(spark, SF_SMOKE)
        arr = eng.traverse("c1").max_hops(3).time_respecting().run()
        from pyspark.sql import functions as F

        got = {
            r["node"]: r["arrival"]
            for r in arr.select(
                "node", ts_str(F.col("arrival_ts")).alias("arrival")
            ).collect()
        }
        g12 = next(q for q in QUERIES if q.name == "g12_earliest_arrival")
        want = {r["node"]: r["arrival"] for r in g12.build(spark, SF_SMOKE).collect()}
        assert got == want


def test_subgraph_induced_edges(spark):
    """subgraph: edge predicate filters edges; vertex predicate induces
    (both endpoints must survive); column order preserved."""
    from pyspark.sql import functions as F

    from graph_spark.graph.property_graph import PropertyGraph

    v = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["id"])
    e = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 1), ("c", "d", 5), ("d", "a", 2)],
        ["src", "dst", "w"],
    )
    g = PropertyGraph(v, e)

    ge = g.subgraph(edge_pred=F.col("w") >= 3)
    assert sorted((r["src"], r["dst"]) for r in ge.edges.collect()) == [("a", "b"), ("c", "d")]

    gv = g.subgraph(vertex_pred=F.col("id") != "d")
    assert sorted(r["id"] for r in gv.vertices.collect()) == ["a", "b", "c"]
    assert sorted((r["src"], r["dst"]) for r in gv.edges.collect()) == [("a", "b"), ("b", "c")]
    assert gv.edges.columns == ["src", "dst", "w"]

    gb = g.subgraph(vertex_pred=F.col("id").isin("a", "b", "c"), edge_pred=F.col("w") < 2)
    assert [(r["src"], r["dst"]) for r in gb.edges.collect()] == [("b", "c")]


def test_bridges_cross_certify_articulation_points(spark):
    """Graph theory: if (u, v) is a bridge and deg(u) > 1, then u is an
    articulation point (removing u strands v's side).  g78 (bridges)
    and g98 (articulation points) run on the same trade graph at
    sf0.01 (the >=150-shipment graph is EMPTY at sf0.001, which would
    make this vacuous) — every qualifying bridge endpoint must be
    flagged cut."""
    from graph_spark.queries.registry import by_name

    sf = "/root/testdata/sf0.01"
    reg = by_name()
    bridges = reg["g78_bridges"].build(spark, sf).collect()
    assert bridges, "trade graph unexpectedly empty at sf0.01"
    cuts = {r["node"]: r["is_cut"] for r in reg["g98_articulation_points"].build(spark, sf).collect()}
    deg: dict[str, int] = {}
    for r in bridges:  # eh covers each undirected edge once (u < v)
        deg[r["u"]] = deg.get(r["u"], 0) + 1
        deg[r["v"]] = deg.get(r["v"], 0) + 1
    for r in bridges:
        if r["is_bridge"] == 1:
            for end in (r["u"], r["v"]):
                if deg[end] > 1:
                    assert cuts[end] == 1, (r, end, cuts)
