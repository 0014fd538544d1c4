"""Graph algorithms over PropertyGraph (SURVEY.md §2.C).

All are join-based supersteps with stationary edges (see
property_graph.py scale notes).  Float-producing algorithms (PageRank,
Dijkstra) round only at the output edge, as declared.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import weakref
from functools import reduce

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from .property_graph import PropertyGraph

# Below this many edges the driver-side superstep loop costs more than
# the work: route to a single-group applyInPandas (numpy) kernel — the
# SURVEY §4.3 "small-graph fallback".  Above it, the distributed
# broadcast-Pregel path runs (the one that scales to 100 TB).  The
# fallback moves ONE already-aggregated edge list to one task, never a
# fact table.
LOCAL_EDGE_THRESHOLD = 5_000_000

# Exact betweenness replicates the (rolled-up) edge list to every task
# and collects it once on the driver — sane for aggregated graph views,
# a driver-memory wall beyond this many edges.  Past it the honest
# substitute is sampled landmark closeness (multi_source_bfs / g22),
# not exact betweenness; the guard raises instead of OOMing.
BETWEENNESS_REPLICATE_EDGE_LIMIT = 50_000_000

# Per-superstep vertex-state broadcast is only sane while the whole
# state vector fits comfortably in every executor: at ~64 bytes/row
# (short string id + a double + a long) this limit is ~256 MB of
# broadcast per superstep.  Above it the Pregel kernels switch to the
# dual-layout SHUFFLE-STATE path: state stays hash-partitioned on node,
# joins a second src-partitioned edge copy co-partitioned with it
# (zero-exchange sort-merge join), and the dst message combine becomes
# the superstep's one shuffle — nothing |V|-sized ever moves to one
# place, so a billion-vertex graph costs one |E| shuffle per superstep
# instead of an impossible tens-of-GB broadcast.
VERTEX_STATE_BROADCAST_LIMIT = 4_000_000


def _attach_contributions(edges: DataFrame, contrib: DataFrame, broadcast: bool) -> DataFrame:
    """The ONE superstep join every Pregel kernel here shares: attach
    per-source messages (`contrib`, columns src + payload) to the
    stationary pre-partitioned edge copy.

    broadcast=True (small |V|): contrib is broadcast onto the
    dst-partitioned edges, so the following dst combine needs no
    exchange — the whole superstep costs zero shuffles of |E| data.
    broadcast=False (the >VERTEX_STATE_BROADCAST_LIMIT path): contrib
    arrives hash-partitioned on node==src when the state was
    checkpointed by :func:`_checkpoint` (which keeps the node
    partitioning; Spark's projections are alias-aware), edges are
    pre-partitioned on src with the same partition count, so the join
    is a zero-exchange sort-merge join; the dst combine is then the
    superstep's single (map-side combined) shuffle.
    """
    rhs = F.broadcast(contrib) if broadcast else contrib
    return edges.join(rhs, "src")


# per session (keyed by id): [threads inside _static_plans, saved AQE value]
_STATIC_HELD: dict[int, list] = {}
_STATIC_LOCK = threading.Lock()


@contextlib.contextmanager
def _static_plans(spark):
    """Plan the actions run inside without AQE (restored after).

    Under AQE every shuffle stage is its own job, and the executed
    plan's root (AdaptiveSparkPlanExec) reports UnknownPartitioning, so
    a checkpoint of superstep state would forget that it is
    hash-partitioned on node and every later join on node would
    re-shuffle it.  Superstep plans have no skew join to split and a
    fixed partition count; what they give up is AQE's runtime switch of
    a sort-merge join to a broadcast join.  The switch is session-wide
    while the block runs; overlapping blocks on other threads share it:
    the first to enter saves the value and the last to leave restores
    it."""
    conf, key = spark.conf, id(spark)
    with _STATIC_LOCK:
        held = _STATIC_HELD.get(key)
        if held is None:
            held = _STATIC_HELD[key] = [0, conf.get("spark.sql.adaptive.enabled")]
            conf.set("spark.sql.adaptive.enabled", "false")
        held[0] += 1
    try:
        yield
    finally:
        with _STATIC_LOCK:
            held[0] -= 1
            if held[0] == 0:
                del _STATIC_HELD[key]
                conf.set("spark.sql.adaptive.enabled", held[1])


def _checkpoint(df: DataFrame, count=None):
    """Eager localCheckpoint planned by :func:`_static_plans`: one job
    (plus one per broadcast in the plan), and the checkpoint keeps
    `df`'s output partitioning.  With a boolean Column `count` it
    returns ``(checkpoint, n)``, n = the rows for which `count` is true
    (``F.lit(True)``: all rows), observed by that same job instead of a
    separate count or isEmpty job."""
    if count is None:
        with _static_plans(df.sparkSession):
            return df.localCheckpoint(eager=True)
    obs = Observation()
    df = df.observe(obs, F.count_if(count).alias("n"))
    with _static_plans(df.sparkSession):
        df = df.localCheckpoint(eager=True)
    return df, obs.get["n"]


class NotConvergedError(RuntimeError):
    """A fixpoint superstep loop still had changing vertices when it hit
    its superstep cap; its labels would be silently wrong."""


def _node_set(edges: DataFrame) -> DataFrame:
    """Distinct endpoints of an edge frame: DataFrame(node)."""
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def _vertex_supersteps(
    edges: DataFrame,
    init,
    message,
    combine,
    update,
    iterations: int,
    schema: str,
    delta=None,
) -> tuple[DataFrame, bool]:
    """The ONE vertex-state superstep driver, Pregelix's shape: a
    superstep is vertex-state ⋈ messages, then a group-by combine, over
    edges that never move.  A kernel is only a spec:

    - ``init(nodes, nv)``: state keyed on ``node`` from the checkpointed
      node set and |V|;
    - ``message(state)``: the contribution frame (``src`` + payload);
    - ``combine(attached)``: the combine over the edges with the
      contributions attached (:func:`_attach_contributions`);
    - ``update(state, combined)``: the next state, called once per
      superstep, in order;
    - ``delta`` (optional): a boolean Column over the state, true for
      the vertices that send next superstep; the loop halts once no
      vertex has it, read from the count the superstep's checkpoint
      observes (no job of its own).

    The driver owns the rest: |V| (observed by the node-set
    checkpoint), the edge pre-partition (dst for broadcast-state while
    |V| <= VERTEX_STATE_BROADCAST_LIMIT, else src for shuffle-state),
    node-partitioned state checkpointed once per superstep by
    :func:`_checkpoint` (so no superstep re-shuffles it; one job per
    superstep plus its broadcasts), and unpersisting.  No edges gives
    an empty `schema` frame.  Returns the final state, all columns, and
    `converged`: True when there are no vertices or the delta emptied
    within `iterations` supersteps.  The caller decides whether running
    out of supersteps is an error (a fixpoint) or the declared horizon.
    """
    spark = edges.sparkSession
    nodes, nv = _checkpoint(_node_set(edges), F.lit(True))
    if nv == 0:
        return spark.createDataFrame([], schema), True
    bcast = nv <= VERTEX_STATE_BROADCAST_LIMIT
    n_part = spark.sparkContext.defaultParallelism
    edges = edges.repartition(n_part, "dst" if bcast else "src").persist()
    converged = False
    try:
        state = _checkpoint(init(nodes, nv).repartition(n_part, "node"))
        active = state
        for _ in range(iterations):
            msgs = combine(_attach_contributions(edges, message(active), bcast))
            if delta is None:
                state = active = _checkpoint(update(state, msgs))
                continue
            state, n_active = _checkpoint(update(state, msgs), delta)
            if n_active == 0:
                converged = True
                break
            active = state.filter(delta)
    finally:
        edges.unpersist()
    return state, converged


# edge-count memo keyed by the underlying DataFrame object: the catalog
# hands out the same cached edge frame across queries, so the routing
# count() job runs once per session instead of once per algorithm call.
# Values hold a WEAK ref to the frame — a live weakref proves the id has
# not been recycled; once the frame is garbage-collected its entry is
# dead and gets purged on the next lookup, so a long-lived session never
# accumulates routed edge frames.
_COUNT_MEMO: dict[int, tuple] = {}


def _edge_count(graph: PropertyGraph) -> int:
    key = id(graph.edges)
    hit = _COUNT_MEMO.get(key)
    if hit is not None and hit[0]() is not None:
        return hit[1]
    for k in [k for k, (ref, _) in _COUNT_MEMO.items() if ref() is None]:
        del _COUNT_MEMO[k]
    cnt = graph.edges.count()
    _COUNT_MEMO[key] = (weakref.ref(graph.edges), cnt)
    return cnt


def _is_local(graph: PropertyGraph, local: bool | None) -> bool:
    """The ONE routing rule of every routed kernel: an explicit `local`
    wins; local=None picks the numpy kernel below LOCAL_EDGE_THRESHOLD
    edges (one memoized count per edge frame, see :func:`_edge_count`)."""
    return _edge_count(graph) < LOCAL_EDGE_THRESHOLD if local is None else local


def _factorize_edges(pdf, sort: bool = False):
    """Hash-based node-id assignment (pd.factorize beats np.unique on
    object arrays by ~10x).  sort=True orders the codes like the ids, so
    int-min == lexicographic string-min (the min-label kernels' tie
    rule).  Returns (nodes, src_codes, dst_codes)."""
    import pandas as pd

    codes, nodes = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True), sort=sort
    )
    return nodes.to_numpy(), codes[: len(pdf)], codes[len(pdf):]


def _local_rank_pdf(pdf, iterations: int, damping: float, sources=None, weight_col=None):
    """numpy twin of :func:`_rank_propagation` over one pandas edge
    list (src, dst, and `weight_col` unless it is None)."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf)
    n = len(nodes)
    w = np.ones(len(src)) if weight_col is None else pdf[weight_col].to_numpy(dtype="float64")
    wout = np.bincount(src, weights=w, minlength=n)
    if sources is None:
        rank = np.full(n, 1.0 / n)
        reset = (1.0 - damping) / n
    else:
        is_src = np.isin(nodes, np.asarray(list(sources), dtype=object))
        ns = int(is_src.sum())
        rank = np.where(is_src, 1.0 / ns if ns else 0.0, 0.0)
        reset = (1.0 - damping) * rank
    for _ in range(int(iterations)):
        per_w = np.where(wout > 0, rank / np.where(wout > 0, wout, 1.0), 0.0)
        acc = np.bincount(dst, weights=per_w[src] * w, minlength=n)
        rank = reset + damping * acc
    return pd.DataFrame({"node": nodes, "rank": rank})


def _local_cc_pdf(pdf):
    """Min-label propagation; integer codes ordered lexicographically so
    int-min == string-min."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf, sort=True)
    label = np.arange(len(nodes))
    while True:
        new = label.copy()
        np.minimum.at(new, dst, label[src])
        if (new == label).all():
            break
        label = new
    return pd.DataFrame({"node": nodes, "component": nodes[label]})


def _local_peel(src, dst, n: int, alive, k: int, max_rounds: int | None = None):
    """numpy twin of :func:`_peel`: same round semantics (degree over
    the alive edges by src, keep deg>=k, drop edges losing either end).
    Returns the alive-edge mask of the k-core."""
    import numpy as np

    rounds = itertools.count() if max_rounds is None else range(max_rounds)
    for _ in rounds:
        keep = np.bincount(src[alive], minlength=n) >= k
        new_alive = alive & keep[src] & keep[dst]
        if int(new_alive.sum()) == int(alive.sum()):
            break
        alive = new_alive
    return alive


def _local_kcore_pdf(pdf, k: int, max_iter: int):
    """numpy k-core: one level of the coreness peel."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf)
    n = len(nodes)
    alive = _local_peel(src, dst, n, np.ones(len(src), dtype=bool), k, max_iter)
    deg = np.bincount(src[alive], minlength=n)
    mask = deg > 0
    return pd.DataFrame({"node": nodes[mask], "degree": deg[mask].astype("int64")})


def _local_lp_pdf(pdf, max_iter: int):
    """Synchronous label propagation, ties -> lexicographically smallest
    label (matches the distributed row_number tie-break)."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf, sort=True)
    label = np.arange(len(nodes))
    for _ in range(max_iter):
        t = pd.DataFrame({"d": dst, "lab": label[src]})
        cnt = t.groupby(["d", "lab"], sort=False).size().reset_index(name="c")
        cnt = cnt.sort_values(["d", "c", "lab"], ascending=[True, False, True])
        best = cnt.drop_duplicates("d", keep="first")
        new_label = label.copy()
        new_label[best["d"].to_numpy()] = best["lab"].to_numpy()
        if (new_label == label).all():
            break
        label = new_label
    return pd.DataFrame({"node": nodes, "label": nodes[label]})


def _local_sssp_pdf(pdf, source: str, weight_col: str, max_iter: int):
    """numpy Bellman-Ford: one simultaneous relaxation sweep per round,
    the same synchronous round as the distributed superstep."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf)
    w = pdf[weight_col].to_numpy(dtype="float64")
    n = len(nodes)
    hits = np.nonzero(nodes == source)[0]
    if len(hits) == 0:
        return pd.DataFrame({"node": [source], "dist": [0.0]})
    dist = np.full(n, np.inf)
    dist[int(hits[0])] = 0.0
    for _ in range(max_iter):
        new = dist.copy()
        np.minimum.at(new, dst, dist[src] + w)
        if np.array_equal(new, dist):
            break
        dist = new
    mask = np.isfinite(dist)
    return pd.DataFrame({"node": nodes[mask], "dist": dist[mask]})


# Below this edge count the local kernel runs in the DRIVER python
# process (Arrow toPandas in, createDataFrame out): r9 measured the old
# coalesce(1)+mapInPandas form paying 0.81 s of boundary per gate
# G-query (serial single-task read of the cached partitions + the
# JVM->python-worker->JVM double hop) where the driver path costs
# ~0.3 s.  ABOVE it, the executor-side mapInPandas form stays: there
# the result itself is millions of rows, and keeping it distributed
# (no createDataFrame re-serialization, no driver collect of 10M+ edge
# rows) measured faster at the 5M/20M bench sizes (cc_local 12 s
# driver-executor vs 18 s driver-side).  Every auto-routed declared
# query sits far below this line (the graph views are ~15k edges).
DRIVER_LOCAL_EDGE_LIMIT = 1_000_000

# Byte budget for the driver-side toPandas route, kept comfortably
# under spark.driver.maxResultSize's 1g DEFAULT (the repo session no
# longer overrides it): the edge count alone is a weak proxy when node
# ids are strings, so the route is taken only when
# rows x estimated-row-width also fits this budget.
DRIVER_LOCAL_BYTES_LIMIT = 256 * 1024 * 1024

# conservative per-column byte estimates for the route decision
_COL_WIDTH_DEFAULT = 16
_COL_WIDTHS = {"bigint": 8, "int": 4, "double": 8, "float": 4, "string": 64}


def _run_local(
    graph: PropertyGraph, kernel, schema: str, cols: tuple = ("src", "dst")
) -> DataFrame:
    """Run a numpy kernel over the (small) edge list in one python
    process: the driver below DRIVER_LOCAL_EDGE_LIMIT edges AND
    DRIVER_LOCAL_BYTES_LIMIT estimated bytes, else one executor task
    via coalesce(1)+mapInPandas (narrow read of the cached edge view,
    no shuffle).

    NOTE the driver route is EAGER AT BUILD TIME: constructing the
    returned DataFrame executes the kernel via toPandas and yields a
    LocalRelation snapshot (plans collapse accordingly; errors and
    cost surface at build, and the result does not reflect later
    changes to a mutable edge frame).  Harmless for the immutable
    parquet-backed views every declared query uses."""
    n_edges = _edge_count(graph)
    dtypes = dict(graph.edges.dtypes)
    est_bytes = n_edges * sum(
        _COL_WIDTHS.get(dtypes.get(c, ""), _COL_WIDTH_DEFAULT) for c in cols
    )
    if n_edges <= DRIVER_LOCAL_EDGE_LIMIT and est_bytes <= DRIVER_LOCAL_BYTES_LIMIT:
        pdf = graph.edges.select(*cols).toPandas()
        spark = graph.edges.sparkSession
        if not len(pdf):
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(kernel(pdf), schema=schema)

    import pandas as pd

    def run(batches):
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if len(pdf):
            yield kernel(pdf)

    return graph.edges.select(*cols).coalesce(1).mapInPandas(run, schema=schema)


def _frontier_reach(
    edges: DataFrame, seeds: DataFrame, max_hops: int, keys: tuple = ()
) -> DataFrame:
    """The ONE frontier loop behind bfs_distances and multi_source_bfs:
    expand `seeds` (*keys, node, optional d) hop by hop along `edges`,
    subtracting the visited pairs.  State is keyed (*keys, node) — `lm`
    for landmarks — so many sources cost the supersteps of the deepest
    one.  Seeds with `d` get the hop number as `d`.  The frontier is
    broadcast onto the edges, so the edges never re-shuffle; visited is
    the union of the per-hop checkpointed frontiers (no checkpoint of
    its own), anti-joined by a shuffle join on the (*keys, node)
    distinct, so nothing |V|-sized is broadcast and a hop costs one
    broadcast job and one checkpoint job; the halt probe is the row
    count that checkpoint observes (an empty frontier stops the loop).
    `max_hops` is a horizon, not a convergence proof.  Returns the
    visited frame, seeds included."""
    keys = list(keys)
    as_src = [*keys, F.col("node").alias("src")]  # built once (see _scc_min_label)
    as_node = [*keys, F.col("dst").alias("node")]
    rows = F.lit(True)
    visited = frontier = _checkpoint(seeds)
    for hop in range(1, max_hops + 1):
        nxt = (
            edges.join(F.broadcast(frontier.select(*as_src)), "src").select(*as_node).distinct()
        )
        frontier = nxt.join(visited.select(*keys, "node"), [*keys, "node"], "left_anti")
        if "d" in seeds.columns:
            frontier = frontier.withColumn("d", F.lit(hop))
        frontier, n = _checkpoint(frontier, rows)
        if n == 0:
            break
        visited = visited.unionByName(frontier)
    return visited


def bfs_distances(
    graph: PropertyGraph, source: str, max_hops: int, local: bool | None = None
) -> DataFrame:
    """Min hop-distance (<= max_hops) from `source` to every reachable
    node, source included at distance 0.  Frontier-style: per superstep,
    broadcast the frontier onto the edges, subtract already-visited.
    Returns DataFrame(node, d).

    local=None auto-routes small graphs to the numpy kernel (identical
    semantics, one task); the distributed loop is the 100 TB path.
    """
    schema = "node string, d long"
    if _is_local(graph, local):
        return _run_local(
            graph,
            lambda pdf: _local_multi_bfs_pdf(pdf, [source], max_hops)[["node", "d"]],
            schema,
        )
    spark = graph.edges.sparkSession
    if _edge_count(graph) == 0:  # no rows, like the local route
        return spark.createDataFrame([], schema)
    seeds = spark.createDataFrame([(source, 0)], ["node", "d"])
    return _frontier_reach(graph.edges, seeds, max_hops)


def _local_multi_bfs_pdf(pdf, sources, max_hops: int):
    """numpy twin of :func:`_frontier_reach` for landmark BFS (the local
    bfs_distances is the one-landmark case); an absent landmark is
    reported at distance 0 from itself, like the distributed seed."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf)
    n = len(nodes)
    parts = []
    for lm, i in zip(sources, pd.Index(nodes).get_indexer(list(sources))):
        if i < 0:
            parts.append(pd.DataFrame({"lm": [lm], "node": [lm], "d": [0]}))
            continue
        dist = np.full(n, -1, dtype="int64")
        dist[i] = 0
        frontier = dist == 0
        for hop in range(1, max_hops + 1):
            nxt = np.zeros(n, dtype=bool)
            nxt[dst[frontier[src]]] = True
            nxt &= dist < 0
            if not nxt.any():
                break
            dist[nxt] = hop
            frontier = nxt
        reached = np.flatnonzero(dist >= 0)
        parts.append(pd.DataFrame({"lm": lm, "node": nodes[reached], "d": dist[reached]}))
    if not parts:
        return pd.DataFrame({"lm": [], "node": [], "d": []})
    return pd.concat(parts, ignore_index=True)


def multi_source_bfs(
    graph: PropertyGraph, sources: list, max_hops: int, local: bool | None = None
) -> DataFrame:
    """Hop distances from EVERY landmark in `sources` in one frontier
    loop: state is keyed (lm, node), so k landmarks cost the same
    superstep count as one BFS — the landmark-sampling basis for
    closeness/eccentricity at scale, where per-node exact centrality
    (O(V) BFS runs) is infeasible.  Returns DataFrame(lm, node, d).
    """
    schema = "lm string, node string, d long"
    if _is_local(graph, local):
        return _run_local(
            graph, lambda pdf: _local_multi_bfs_pdf(pdf, sources, max_hops), schema
        )
    spark = graph.edges.sparkSession
    if _edge_count(graph) == 0:  # no rows, like the local route
        return spark.createDataFrame([], schema)
    seeds = spark.createDataFrame([(s, s, 0) for s in sources], schema)
    return _frontier_reach(graph.edges, seeds, max_hops, keys=("lm",))


def connected_components(
    graph: PropertyGraph, max_iter: int = 50, local: bool | None = None
) -> DataFrame:
    """Min-id label propagation to fixpoint over (assumed symmetric)
    edges.  Returns DataFrame(node, component) where component is the
    lexicographically smallest reachable node id.

    Runs on :func:`_vertex_supersteps` with delta propagation: a node's
    label only decreases, and a neighbor's new minimum can only arrive
    from a node whose label CHANGED last round — so only the delta set
    sends messages.  Round 1 everyone is a delta; after the first couple
    of rounds the delta collapses to the still-converging fringe, so
    late rounds cost almost nothing even on diameter-bound graphs.
    Above VERTEX_STATE_BROADCAST_LIMIT vertices the delta joins the
    src-partitioned edge copy instead of being broadcast, so the first
    rounds (delta == |V|) never broadcast the state vector.  Labels
    still changing after `max_iter` supersteps raise
    :class:`NotConvergedError` (diameter D needs D + 1 supersteps).
    """
    schema = "node string, component string"
    if _is_local(graph, local):
        return _run_local(graph, _local_cc_pdf, schema)

    # built once, outside the superstep loop (see _scc_min_label); old
    # and new labels sit side by side in ONE checkpointed frame so the
    # delta extraction is a cheap filter on it, not a second
    # state-vs-state sort-merge join per round
    comp = F.col("component")
    init_cols = ["node", F.col("node").alias("component")]
    msg_cols = [F.col("node").alias("src"), "component"]
    by_dst = F.col("dst").alias("node")
    nbr_min = F.min("component").alias("nbr_min")
    upd_cols = [
        "node",
        comp.alias("old_component"),
        F.least(comp, F.col("nbr_min")).alias("component"),
    ]
    changed = comp != F.col("old_component")
    state, converged = _vertex_supersteps(
        graph.edges.select("src", "dst"),
        init=lambda nodes, nv: nodes.select(*init_cols),
        message=lambda delta: delta.select(*msg_cols),
        combine=lambda att: att.groupBy(by_dst).agg(nbr_min),
        update=lambda state, msgs: state.join(msgs, "node", "left").select(*upd_cols),
        iterations=max_iter,
        schema=schema,
        delta=changed,
    )
    if not converged:
        raise NotConvergedError(
            f"connected_components did not converge within max_iter={max_iter}: "
            "labels still changing; raise max_iter or use local=True"
        )
    return state.select("node", "component")


def _rank_propagation(
    graph: PropertyGraph,
    iterations: int,
    damping: float,
    local: bool | None,
    sources: list | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """The ONE rank propagation behind pagerank, pagerank_weighted and
    personalized_pagerank: rank splits across out-edges by weight (unit
    weights without `weight_col`, i.e. 1/out-degree), and each
    superstep rank = reset + damping * inflow.  Teleport is uniform
    over |V|, or 1/|S| over the `sources` present (zero mass when none
    is).  The distributed state CARRIES the out-weight — one init join
    instead of a per-superstep degree join, measured 3.2x (38 s -> 12 s)
    for 10 iterations on a 5M-edge graph.  Returns DataFrame(node, rank).
    """
    schema = "node string, rank double"
    if _is_local(graph, local):
        return _run_local(
            graph,
            lambda pdf: _local_rank_pdf(pdf, iterations, damping, sources, weight_col),
            schema,
            cols=("src", "dst") if weight_col is None else ("src", "dst", weight_col),
        )
    weight = [] if weight_col is None else [F.col(weight_col).cast("double").alias("weight")]
    edges = graph.edges.select("src", "dst", *weight)
    outw = F.count(F.lit(1)) if weight_col is None else F.sum("weight")
    inflow = F.col("w") if weight_col is None else F.col("w") * F.col("weight")
    upd_cols = None  # the update's columns, which depend on |V|: set by init

    def init(nodes, nv):
        nonlocal upd_cols
        if sources is None:
            tele = F.lit(1.0 / nv)
            reset = F.lit((1.0 - damping) / nv)
        else:
            src_set = [str(s) for s in sources]
            ns = nodes.filter(F.col("node").isin(src_set)).count()
            tele = F.when(F.col("node").isin(src_set), F.lit(1.0 / ns if ns else 0.0)).otherwise(
                F.lit(0.0)
            )
            reset = F.lit(1.0 - damping) * tele
        rank = reset + F.lit(damping) * F.coalesce(F.col("acc"), F.lit(0.0))
        upd_cols = ["node", "ws", rank.alias("rank")]
        deg = edges.groupBy(F.col("src").alias("node")).agg(outw.alias("ws"))
        return nodes.join(deg, "node", "left").select(
            "node", F.coalesce("ws", F.lit(0)).alias("ws"), tele.alias("rank")
        )

    # built once, outside the superstep loop (see _scc_min_label)
    sends = (F.col("ws") > 0) & (F.col("rank") != 0)
    msg_cols = [F.col("node").alias("src"), (F.col("rank") / F.col("ws")).alias("w")]
    by_dst = F.col("dst").alias("node")
    acc = F.sum(inflow).alias("acc")
    return _vertex_supersteps(
        edges,
        init=init,
        message=lambda state: state.filter(sends).select(*msg_cols),
        combine=lambda att: att.groupBy(by_dst).agg(acc),
        update=lambda state, msgs: state.join(msgs, "node", "left").select(*upd_cols),
        iterations=iterations,
        schema=schema,
    )[0].select("node", "rank")


def pagerank(
    graph: PropertyGraph,
    iterations: int = 10,
    damping: float = 0.85,
    local: bool | None = None,
) -> DataFrame:
    """Classic PageRank, uniform init 1/|V|, damping default 0.85,
    contributions along `edges` split by out-degree.  Nodes with no
    in-edges get the teleport term only.  Returns DataFrame(node, rank).

    Distributed superstep cost: ONE shuffle (message combine by dst),
    in the layout :func:`_vertex_supersteps` picks from |V| — rank
    broadcast onto dst-partitioned edges while |V| <=
    VERTEX_STATE_BROADCAST_LIMIT, else the shuffle-state layout (see
    :func:`_attach_contributions`), so billion-vertex graphs never
    broadcast the state vector.  Small graphs auto-route to the numpy
    kernel (local=None).
    """
    return _rank_propagation(graph, iterations, damping, local)


def pagerank_weighted(
    graph: PropertyGraph,
    iterations: int = 10,
    damping: float = 0.85,
    weight_col: str = "weight",
    local: bool | None = None,
) -> DataFrame:
    """PageRank with edge-weight-proportional mass distribution (the
    Neo4j GDS `relationshipWeightProperty` variant): a node's rank is
    split across out-edges as weight/sum(out-weights) instead of 1/deg.
    Uniform init 1/|V|; teleport (1-d)/|V|.  Returns (node, rank).

    Superstep cost model is IDENTICAL to `pagerank` (the same
    :func:`_rank_propagation`) — weights ride the edge rows that never
    move, so the weighted variant is free at 100 TB relative to the
    unweighted one.  Small graphs auto-route to the numpy kernel.
    """
    return _rank_propagation(graph, iterations, damping, local, weight_col=weight_col)


def incremental_components(labels: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental connected components: given `labels` (node,
    component) from a previous run — components labelled by their
    lexicographically smallest member, the `connected_components`
    invariant — and a batch of `new_edges` (src, dst, assumed
    symmetric), produce the labels of the UNION graph without touching
    the old edges.

    The classic contraction argument: a new edge can only merge whole
    existing components, so it suffices to (1) self-label endpoints
    never seen before, (2) project new edges onto the component graph
    (comp(u), comp(v)) — a tiny graph, one distinct pair per touched
    component pair, (3) run plain CC on that contracted graph, and
    (4) re-map.  min-label composition is associative (min over merged
    groups == min over all members), so the result is IDENTICAL to a
    full recompute — proven by the g79 oracle and the property test,
    never assumed.

    Scale shape: the old edge set (the 100 TB part) is NEVER read; the
    cost is two broadcast label lookups on the delta plus a CC on a
    graph with at most one node per touched component.  This is the
    evolving-graph maintenance path: label once, absorb edge batches.
    """
    lab = labels.select("node", "component")
    fresh = _node_set(new_edges).join(lab, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    lab_all = lab.unionByName(fresh).localCheckpoint(eager=True)
    la = lab_all.select(F.col("node").alias("src"), F.col("component").alias("ca"))
    lb = lab_all.select(F.col("node").alias("dst"), F.col("component").alias("cb"))
    ce = (
        new_edges.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("ca") != F.col("cb"))
        .select("ca", "cb")
        .distinct()
    )
    ce_sym = ce.union(ce.select(F.col("cb").alias("ca"), F.col("ca").alias("cb")))
    if ce_sym.isEmpty():
        return lab_all
    cg = connected_components(
        PropertyGraph(
            ce_sym.select(F.col("ca").alias("id")).distinct(),
            ce_sym.select(F.col("ca").alias("src"), F.col("cb").alias("dst")),
        )
    ).select(F.col("node").alias("component"), F.col("component").alias("root"))
    return lab_all.join(F.broadcast(cg), "component", "left").select(
        "node", F.coalesce("root", F.col("component")).alias("component")
    )


def _local_katz_pdf(pdf, iterations: int, alpha: float):
    """numpy Katz kernel over one pandas edge list: x <- 1 + alpha*A^T x."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf)
    n = len(nodes)
    x = np.ones(n)
    for _ in range(int(iterations)):
        acc = np.bincount(dst, weights=x[src], minlength=n)
        x = 1.0 + alpha * acc
    return pd.DataFrame({"node": nodes, "katz": x})


def katz_centrality(
    graph: PropertyGraph,
    iterations: int = 6,
    alpha: float = 0.005,
    local: bool | None = None,
) -> DataFrame:
    """Truncated Katz centrality: x = sum_{k<=T} alpha^k (A^T)^k 1,
    computed as T rounds of x <- 1 + alpha * A^T x (beta = 1).  Unlike
    PageRank there is no out-degree normalization — a node is central
    for being reachable by MANY short walks, the bibliometric /
    influence-count semantic.  alpha must stay below 1/lambda_max for
    the untruncated series to converge; the truncated form is always
    finite and is what both engines compute.  Returns (node, katz).

    Distributed superstep cost is pagerank's minus the degree join:
    ONE message combine on dst over stationary pre-partitioned edges
    (:func:`_vertex_supersteps`).  Small graphs auto-route to numpy.
    """
    schema = "node string, katz double"
    if _is_local(graph, local):
        return _run_local(graph, lambda pdf: _local_katz_pdf(pdf, iterations, alpha), schema)
    # built once, outside the superstep loop (see _scc_min_label)
    init_cols = ["node", F.lit(1.0).alias("katz")]
    msg_cols = [F.col("node").alias("src"), F.col("katz").alias("x")]
    by_dst = F.col("dst").alias("node")
    acc = F.sum("x").alias("acc")
    katz = F.lit(1.0) + F.lit(alpha) * F.coalesce(F.col("acc"), F.lit(0.0))
    upd_cols = ["node", katz.alias("katz")]
    return _vertex_supersteps(
        graph.edges.select("src", "dst"),
        init=lambda nodes, nv: nodes.select(*init_cols),
        message=lambda state: state.select(*msg_cols),
        combine=lambda att: att.groupBy(by_dst).agg(acc),
        update=lambda state, msgs: state.join(msgs, "node", "left").select(*upd_cols),
        iterations=iterations,
        schema=schema,
    )[0].select("node", "katz")


def _local_louvain_pdf(pdf, rounds: int):
    """numpy synchronous local-moving kernel; integer scores, community
    ids relabelled so int-min == lexicographic string-min (the CC-kernel
    trick), so tie-breaks match the SQL oracle exactly."""
    import numpy as np
    import pandas as pd

    snodes, src, dst = _factorize_edges(pdf, sort=True)
    n = len(snodes)
    m2 = len(src)
    k = np.bincount(src, minlength=n).astype("int64")
    comm = np.arange(n, dtype="int64")
    for _ in range(int(rounds)):
        sigma = np.bincount(comm, weights=k, minlength=n).astype("int64")
        # per-(v, neighbor community) edge counts
        key = src * n + comm[dst]
        uk, evc = np.unique(key, return_counts=True)
        v = uk // n
        c = uk % n
        # ensure own community is always a candidate (evc contribution 0)
        own_key = np.arange(n, dtype="int64") * n + comm
        extra = np.setdiff1d(own_key, uk, assume_unique=False)
        v = np.concatenate([v, extra // n])
        c = np.concatenate([c, extra % n])
        evc = np.concatenate([evc.astype("int64"), np.zeros(len(extra), dtype="int64")])
        sig_ex = sigma[c] - np.where(comm[v] == c, k[v], 0)
        score = m2 * evc - k[v] * sig_ex
        # argmax per v, tie-break smallest community id
        sel = np.lexsort((c, -score, v))  # sort by v, then -score, then c
        v_s, c_s = v[sel], c[sel]
        first = np.ones(len(v_s), dtype=bool)
        first[1:] = v_s[1:] != v_s[:-1]
        comm = comm.copy()
        comm[v_s[first]] = c_s[first]
    return pd.DataFrame({"node": snodes, "comm": snodes[comm]})


def louvain_local_rounds(
    graph: PropertyGraph, rounds: int = 3, local: bool | None = None
) -> DataFrame:
    """Synchronous Louvain local-moving phase, made exactly reproducible:
    every node simultaneously moves to the neighboring community with
    the highest modularity gain, where the gain comparison is the EXACT
    INTEGER m2*e_vc - k_v*(sigma_c - k_v*[v in c]) (all constant terms
    of deltaQ dropped, m2 = |directed sym edges|), tie-broken on the
    lexicographically smallest community id.  No floats anywhere, so
    any engine — including the unrolled SQL oracle — lands on
    bit-identical partitions.  Community ids are node ids (init: own).

    The synchronous schedule is the distributed-friendly variant
    (classic Louvain is inherently sequential); a fixed round count
    keeps it deterministic — label oscillation is possible and
    harmless for the declared semantics.  Returns DataFrame(node, comm).

    Distributed it is a fixed-round :func:`_vertex_supersteps` spec
    over the reversed edges, so the superstep's one message shuffle
    counts e_vc by (v, neighbor community); the update sums sigma from
    the (node, k, comm) state and takes the argmax as
    min(struct(-gain, comm)).  Small graphs auto-route to the numpy
    kernel.
    """
    if _is_local(graph, local):
        return _run_local(
            graph,
            lambda pdf: _local_louvain_pdf(pdf, rounds),
            "node string, comm string",
        )
    m2 = _edge_count(graph)
    # built once, outside the superstep loop (see _scc_min_label)
    k, comm = F.col("k"), F.col("comm")
    init_cols = [F.col("src").alias("node"), "k", F.col("src").alias("comm")]
    msg_cols = [F.col("node").alias("src"), "comm"]
    by_comm = [F.col("dst").alias("node"), "comm"]
    evc = F.count(F.lit(1)).alias("evc")
    own_cols = ["node", "comm", F.lit(0).cast("long").alias("evc")]
    max_evc = F.max("evc").alias("evc")
    cur_cols = ["node", "k", comm.alias("cur")]
    sigma = F.sum("k").alias("sigma")
    gain = F.lit(m2) * F.col("evc") - k * (
        F.col("sigma") - F.when(F.col("cur") == comm, k).otherwise(F.lit(0))
    )
    best = F.min(F.struct((-gain).alias("ng"), comm)).alias("best")
    upd_cols = ["node", "k", F.col("best.comm").alias("comm")]

    def update(state, msgs):
        cand = msgs.unionByName(state.select(*own_cols)).groupBy("node", "comm").agg(max_evc)
        return (
            cand.join(state.select(*cur_cols), "node")
            .join(state.groupBy("comm").agg(sigma), "comm")
            .groupBy("node", "k")
            .agg(best)
            .select(*upd_cols)
        )

    edges = graph.edges.select("src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("k"))
    return _vertex_supersteps(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        init=lambda nodes, nv: deg.select(*init_cols),
        message=lambda state: state.select(*msg_cols),
        combine=lambda att: att.groupBy(*by_comm).agg(evc),
        update=update,
        iterations=rounds,
        schema="node string, k long, comm string",
    )[0].select("node", "comm")


def personalized_pagerank(
    graph: PropertyGraph,
    sources: list,
    iterations: int = 10,
    damping: float = 0.85,
    local: bool | None = None,
) -> DataFrame:
    """Personalized PageRank: teleport mass restricted to `sources`
    (uniform 1/|S| init and reset).  Same superstep as `pagerank` (the
    same :func:`_rank_propagation`) — ONE shuffle per iteration, so the
    100 TB cost model is identical; only the teleport vector changes.
    Returns DataFrame(node, rank).
    """
    return _rank_propagation(graph, iterations, damping, local, sources=sources)


def _triangles(pairs: DataFrame) -> DataFrame:
    """Every triangle a<b<c of canonical undirected pairs (s1 < s2), by
    the three-way self-join; at scale, the canonical orientation halves
    every join input.  Returns (a, b, c)."""
    e1 = pairs.select(F.col("s1").alias("a"), F.col("s2").alias("b"))
    e2 = pairs.select(F.col("s1").alias("b2"), F.col("s2").alias("c2"))
    e3 = pairs.select(F.col("s1").alias("a3"), F.col("s2").alias("c3"))
    return (
        e1.join(e2, e1.b == e2.b2, "inner")
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c2") == F.col("c3")), "inner")
        .select("a", "b", F.col("c2").alias("c"))
    )


def triangle_count(edges_undirected_pairs: DataFrame) -> DataFrame:
    """Count triangles in an undirected simple graph given as canonical
    pairs (s1 < s2, one row per edge).  Standard a<b<c three-way
    self-join; at scale, pre-filter to the canonical orientation halves
    every join input (done here by construction).
    Returns a 1-row DataFrame(n_triangles)."""
    return _triangles(edges_undirected_pairs).agg(F.count(F.lit(1)).alias("n_triangles"))


def edge_triangle_support(edges_undirected_pairs: DataFrame) -> DataFrame:
    """Per-edge triangle support (the k-truss counting kernel): for each
    canonical edge (s1 < s2), how many triangles contain it.  Same
    a<b<c three-way self-join as triangle_count, then each triangle
    credits its three edges via UNION ALL + groupBy — all equi-joins on
    edge endpoints, map-side combinable.  Edges in no triangle are
    absent (support 0).  Returns (s1, s2, support).
    """
    tri = _triangles(edges_undirected_pairs)
    sup = (
        tri.select(F.col("a").alias("s1"), F.col("b").alias("s2"))
        .unionAll(tri.select(F.col("b").alias("s1"), F.col("c").alias("s2")))
        .unionAll(tri.select(F.col("a").alias("s1"), F.col("c").alias("s2")))
    )
    return sup.groupBy("s1", "s2").agg(F.count(F.lit(1)).alias("support"))


def shortest_paths_weighted(
    graph: PropertyGraph,
    source: str,
    weight_col: str,
    max_iter: int = 20,
    local: bool | None = None,
) -> DataFrame:
    """Bellman-Ford style relaxation (Dijkstra analog on Spark: no
    priority queue across partitions, so iterate relaxations to
    fixpoint).  Returns DataFrame(node, dist) for every node reached
    within `max_iter` rounds; `max_iter` is a hop horizon, not a
    convergence cap (g14 declares 8 rounds).  Hash-declared with
    integer weights (g14); small graphs auto-route to the numpy kernel
    with identical per-round semantics.

    Distributed it is connected_components' delta spec with ``+ w``:
    only the nodes whose distance improved last round send, the combine
    is one min(d + w) by dst, and old and new distances sit side by
    side in the checkpointed state, so no round joins state to state."""
    schema = "node string, dist double"
    if _is_local(graph, local):
        return _run_local(
            graph,
            lambda pdf: _local_sssp_pdf(pdf, source, weight_col, max_iter),
            schema,
            cols=("src", "dst", weight_col),
        )
    spark = graph.edges.sparkSession
    # built once, outside the superstep loop (see _scc_min_label)
    dist = F.col("dist")
    msg_cols = [F.col("node").alias("src"), dist.alias("d")]
    by_dst = F.col("dst").alias("node")
    nbr_min = F.min(F.col("d") + F.col("w")).alias("nbr_min")
    upd_cols = ["node", dist.alias("old_dist"), F.least(dist, F.col("nbr_min")).alias("dist")]
    changed = ~dist.eqNullSafe(F.col("old_dist"))
    # the source is in the state even when no edge touches it
    at_source = spark.createDataFrame([(source, 0.0)], schema)
    state = _vertex_supersteps(
        graph.edges.select("src", "dst", F.col(weight_col).alias("w")),
        init=lambda nodes, nv: nodes.join(at_source, "node", "full"),
        message=lambda delta: delta.filter(dist.isNotNull()).select(*msg_cols),
        combine=lambda att: att.groupBy(by_dst).agg(nbr_min),
        update=lambda state, msgs: state.join(msgs, "node", "left").select(*upd_cols),
        iterations=max_iter,
        schema=schema,
        delta=changed,
    )[0]
    return state.filter(dist.isNotNull()).select("node", "dist")


def shortest_paths_delta_stepping(
    graph: PropertyGraph,
    source: str,
    weight_col: str,
    delta: float,
    max_outer: int = 200,
    max_inner: int = 100,
) -> DataFrame:
    """Delta-stepping SSSP (Meyer & Sanders): tentative distances are
    processed in buckets of width `delta`; LIGHT edges (w <= delta)
    relax in an inner fixpoint within the current bucket, HEAVY edges
    relax once after the bucket settles.  Non-negative weights only.
    Returns DataFrame(node, dist) — identical values to
    :func:`shortest_paths_weighted` (both are exact SSSP).

    This is the documented upgrade path over the Bellman-Ford rounds of
    `shortest_paths_weighted` for LARGE-DIAMETER weighted graphs (road
    networks — the reference system's home turf): Bellman-Ford needs
    diameter-in-hops rounds over ALL edges; delta-stepping's inner
    loops touch only the frontier's light edges, and heavy edges relax
    once per bucket instead of once per round.  Each inner step is the
    standard superstep (broadcast frontier onto stationary edges + one
    min-combine); the bucket index is the only scalar the driver sees.
    """
    spark = graph.edges.sparkSession
    w = F.col(weight_col).cast("double")
    edges = graph.edges.select("src", "dst", w.alias("w")).localCheckpoint(eager=True)
    edges_l = edges.filter(F.col("w") <= delta).localCheckpoint(eager=True)
    edges_h = edges.filter(F.col("w") > delta).localCheckpoint(eager=True)
    dist = spark.createDataFrame([(source, 0.0)], ["node", "dist"]).localCheckpoint(eager=True)
    bucket = F.floor(F.col("dist") / F.lit(float(delta)))

    def relax(frontier: DataFrame, e: DataFrame, cur: DataFrame) -> DataFrame:
        fr = F.broadcast(frontier.select(F.col("node").alias("fsrc"), F.col("dist").alias("fd")))
        cand = e.join(fr, e.src == F.col("fsrc")).select(
            F.col("dst").alias("node"), (F.col("fd") + F.col("w")).alias("dist")
        )
        return (
            cur.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )

    b_floor = 0
    for _ in range(max_outer):
        nxt = (
            dist.filter(bucket >= b_floor).agg(F.min(bucket).alias("b")).collect()[0]["b"]
        )
        if nxt is None:
            break
        b = int(nxt)
        frontier = dist.filter(bucket == b)
        for _ in range(max_inner):
            new_dist = relax(frontier, edges_l, dist)
            # nodes whose distance improved INTO or WITHIN bucket b keep
            # relaxing; improvements into later buckets wait their turn
            changed = (
                new_dist.alias("n")
                .join(dist.alias("o"), F.col("n.node") == F.col("o.node"), "left")
                .filter(F.col("o.dist").isNull() | (F.col("n.dist") < F.col("o.dist")))
                .select(F.col("n.node").alias("node"), F.col("n.dist").alias("dist"))
            )
            frontier = changed.filter(bucket == b).localCheckpoint(eager=True)
            dist = new_dist
            if frontier.isEmpty():
                break
        settled = dist.filter(bucket == b)
        dist = relax(settled, edges_h, dist)
        b_floor = b + 1
    return dist


def _peel(
    edges: DataFrame, n_edges: int, k: int, max_rounds: int | None = None
) -> tuple[DataFrame, int]:
    """Peel checkpointed (src, dst) edges, `n_edges` of them, to the
    k-core — the round k_core documents — until the fixpoint or
    `max_rounds` rounds.  Each round's edge checkpoint observes the
    survivor count (no count job of its own).  Returns the surviving
    edges, checkpointed, and their count."""
    rounds = itertools.count() if max_rounds is None else range(max_rounds)
    rows = F.lit(True)
    for _ in rounds:
        deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
        keep = _checkpoint(deg.filter(F.col("degree") >= k).select("node"))
        kb = F.broadcast(keep)
        n_before = n_edges
        edges, n_edges = _checkpoint(
            edges.join(kb, edges.src == kb.node, "left_semi")
            .join(kb, edges.dst == kb.node, "left_semi"),
            rows,
        )
        if n_edges == n_before:
            break
    return edges, n_edges


def k_core(
    graph: PropertyGraph, k: int, max_iter: int = 100, local: bool | None = None
) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes with
    degree < k over (assumed symmetric) edges until stable.  Returns
    DataFrame(node, degree) for the surviving core.

    Each round: degree count (one shuffle) + semi-join edge filter;
    rounds <= peel depth.  At 100 TB the edge table shrinks
    monotonically, so persist-and-replace per round keeps lineage and
    scan size bounded.  Small graphs auto-route to the numpy kernel."""
    if _is_local(graph, local):
        return _run_local(
            graph,
            lambda pdf: _local_kcore_pdf(pdf, k, max_iter),
            "node string, degree long",
        )
    edges, n_edges = _checkpoint(graph.edges.select("src", "dst"), F.lit(True))
    edges = _peel(edges, n_edges, k, max_iter)[0]
    return edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("degree"))


def _kosaraju_pdf(pdf):
    """Single-task Kosaraju SCC kernel over one pandas (src, dst) edge
    list.  Component label = lexicographic min member id."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf, sort=True)
    n = len(nodes)
    fwd: list[list[int]] = [[] for _ in range(n)]
    rev: list[list[int]] = [[] for _ in range(n)]
    for a, b in zip(src, dst):
        fwd[a].append(b)
        rev[b].append(a)
    # iterative Kosaraju: order pass on fwd, assign pass on rev
    visited = [False] * n
    order: list[int] = []
    for s in range(n):
        if visited[s]:
            continue
        stack = [(s, 0)]
        visited[s] = True
        while stack:
            u, i = stack.pop()
            if i < len(fwd[u]):
                stack.append((u, i + 1))
                v = fwd[u][i]
                if not visited[v]:
                    visited[v] = True
                    stack.append((v, 0))
            else:
                order.append(u)
    comp = [-1] * n
    for s in reversed(order):
        if comp[s] != -1:
            continue
        comp[s] = s
        stack2 = [s]
        while stack2:
            u = stack2.pop()
            for v in rev[u]:
                if comp[v] == -1:
                    comp[v] = s
                    stack2.append(v)
    # codes follow the id order, so the min member code is the min id
    rep = pd.Series(np.arange(n)).groupby(np.asarray(comp)).transform("min").to_numpy()
    return pd.DataFrame({"node": nodes, "component": nodes[rep]})


def _scc_min_label(graph: PropertyGraph, max_rounds: int, max_inner: int) -> DataFrame:
    """Distributed SCC by Min-Label rounds (Yan et al., "Pregel
    Algorithms for Graph Connectivity Problems with Performance
    Guarantees", VLDB 2014): no pivots, no per-pivot reach loops.

    Each round is ONE :func:`_vertex_supersteps` fixpoint over the open
    edges plus their reversed copy, carrying two min-labels per node:
    `fw` = the min id that reaches it, `bw` = the min id it reaches.
    A node with fw == bw is final: fw reaches it and it reaches fw, so
    fw is in its SCC, and fw is the min of its ancestors, which include
    the whole SCC — the label is the lexicographic min member,
    byte-identical to the Kosaraju kernel.  Members of one SCC share
    both labels, so an SCC never straddles two (fw, bw) groups: the next
    round keeps only edges whose endpoints are both open and in the same
    group, and every round finalizes at least each group's min node.
    Self-loops are dropped first; a node left with no edge is a
    singleton, so the rounds stop once the edge checkpoint observes no
    open edge (no probe of its own).  `max_inner` caps the supersteps
    per round: a round that has not converged by then, like edges still
    open after `max_rounds` rounds, is finished by the single-task
    Kosaraju kernel, so labels never come from an unconverged
    propagation."""
    schema = "node string, component string"
    base = graph.edges.select("src", "dst")
    rows = F.lit(True)
    e, n_open = _checkpoint(base.filter(F.col("src") != F.col("dst")).distinct(), rows)
    labelled: list[DataFrame] = []
    # the spec's columns are built once: every F call costs driver round trips
    fw, bw, fwd = F.col("fw"), F.col("bw"), F.col("fwd")
    init_cols = ["node", F.col("node").alias("fw"), F.col("node").alias("bw")]
    msg_cols = [F.col("node").alias("src"), "fw", "bw"]
    by_dst = F.col("dst").alias("node")
    mins = [F.min(F.when(fwd, fw)).alias("mfw"), F.min(F.when(~fwd, bw)).alias("mbw")]
    upd_cols = [
        "node",
        fw.alias("ofw"),
        bw.alias("obw"),
        F.least(fw, F.col("mfw")).alias("fw"),
        F.least(bw, F.col("mbw")).alias("bw"),
    ]
    changed = (fw != F.col("ofw")) | (bw != F.col("obw"))
    reverse = [F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(False).alias("fwd")]
    for _ in range(max_rounds):
        if n_open == 0:
            break
        state, converged = _vertex_supersteps(
            e.withColumn("fwd", F.lit(True)).unionByName(e.select(*reverse)),
            init=lambda nodes, nv: nodes.select(*init_cols),
            message=lambda delta: delta.select(*msg_cols),
            combine=lambda att: att.groupBy(by_dst).agg(*mins),
            update=lambda state, msgs: state.join(msgs, "node", "left").select(*upd_cols),
            iterations=max_inner,
            schema="node string, fw string, bw string",
            delta=changed,
        )
        if not converged:
            break
        labelled.append(state.filter(fw == bw).select("node", fw.alias("component")))
        still = state.filter(fw != bw).select("node", "fw", "bw")
        e, n_open = _checkpoint(
            e.join(still.withColumnRenamed("node", "src"), "src")
            .join(still.withColumnRenamed("node", "dst"), ["dst", "fw", "bw"])
            .select("src", "dst"),
            rows,
        )
    if n_open:
        # a round that hit max_inner, or edges still open after
        # max_rounds: finish them on one task
        labelled.append(
            _run_local(PropertyGraph(e.select(F.col("src").alias("id")), e), _kosaraju_pdf, schema)
        )
    nodes = _node_set(base)
    if not labelled:  # only self-loops, or no edges
        return nodes.select("node", F.col("node").alias("component"))
    return nodes.join(reduce(DataFrame.unionByName, labelled), "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def _local_coreness_pdf(pdf, max_k: int):
    """numpy full core decomposition by increasing-k peel: round k peels
    to the k-core; survivors' coreness is bumped to k.  Same per-round
    semantics as the distributed loop."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf)
    n = len(nodes)
    alive = np.ones(len(src), dtype=bool)
    core = np.zeros(n, dtype="int64")
    k = 1
    while alive.any() and k <= max_k:
        alive = _local_peel(src, dst, n, alive, k)
        core[np.bincount(src[alive], minlength=n) > 0] = k
        k += 1
    mask = core > 0
    return pd.DataFrame({"node": nodes[mask], "coreness": core[mask]})


def core_decomposition(
    graph: PropertyGraph, max_k: int = 1000, local: bool | None = None
) -> DataFrame:
    """Full k-core decomposition over (assumed symmetric) edges:
    coreness(v) = the largest k such that v survives the k-core peel.
    Returns DataFrame(node, coreness) for every node with an edge.

    Generalizes :func:`k_core` (fixed k membership) the way a user of a
    graph engine expects — one call yields every core level.  The
    distributed loop peels k = 1, 2, ... on a monotonically shrinking
    checkpointed edge table (each peel round is a degree combine + two
    broadcast semi-joins, exactly k_core's shape); survivors of round k
    emit (node, k) and the final coreness is a max-combine over rounds.
    Total rounds = degeneracy of the graph — small on real-world
    graphs (the quantity itself is the output).  Small graphs
    auto-route to the numpy kernel; both paths are parity-tested
    against an independent Batagelj-Zaversnik min-degree peel."""
    if _is_local(graph, local):
        return _run_local(
            graph, lambda pdf: _local_coreness_pdf(pdf, max_k), "node string, coreness long"
        )
    spark = graph.edges.sparkSession
    edges, n_edges = _checkpoint(graph.edges.select("src", "dst"), F.lit(True))
    levels: list[DataFrame] = []
    k = 1
    while k <= max_k and n_edges:
        edges, n_edges = _peel(edges, n_edges, k)
        survivors = edges.select(F.col("src").alias("node")).distinct()
        levels.append(survivors.withColumn("coreness", F.lit(k).cast("long")))
        k += 1
    if not levels:
        return spark.createDataFrame([], "node string, coreness long")
    out = reduce(DataFrame.unionByName, levels)
    return out.groupBy("node").agg(F.max("coreness").alias("coreness"))


def strongly_connected_components(
    graph: PropertyGraph,
    local: bool | None = None,
    max_rounds: int = 20,
    max_inner: int = 60,
) -> DataFrame:
    """SCC over DIRECTED edges.  Small graphs auto-route to a
    single-task Kosaraju kernel; above LOCAL_EDGE_THRESHOLD the
    distributed Min-Label rounds (:func:`_scc_min_label`) run, at most
    `max_rounds` rounds of at most `max_inner` supersteps each; what
    they leave unfinished goes to the Kosaraju kernel.  Returns
    DataFrame(node, component) with component = lexicographic min
    member id on both paths (parity-tested)."""
    if _is_local(graph, local):
        return _run_local(graph, _kosaraju_pdf, "node string, component string")
    return _scc_min_label(graph, max_rounds, max_inner)


def label_propagation(
    graph: PropertyGraph, max_iter: int = 10, local: bool | None = None
) -> DataFrame:
    """Community detection: each node adopts the most frequent label of
    its in-neighbors each round (ties -> smallest label).  Deterministic
    synchronous variant, hash-declared (g15); small graphs auto-route to
    the numpy kernel.  Distributed it is a :func:`_vertex_supersteps`
    spec: the label vector is the superstep's contribution, the combine
    a per-(node, label) count plus a row_number argmax."""
    schema = "node string, label string"
    if _is_local(graph, local):
        return _run_local(graph, lambda pdf: _local_lp_pdf(pdf, max_iter), schema)

    # built once, outside the superstep loop (see _scc_min_label)
    init_cols = ["node", F.col("node").alias("label")]
    by_dst_label = [F.col("dst").alias("node"), F.col("label")]
    c = F.count(F.lit(1)).alias("c")
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label").asc())
    rn = F.row_number().over(w).alias("rn")
    first = F.col("rn") == 1
    best_cols = [F.col("node").alias("bnode"), F.col("label").alias("best_label")]
    is_best = F.col("node") == F.col("bnode")
    upd_cols = ["node", F.coalesce(F.col("best_label"), F.col("label")).alias("label")]

    def combine(att):
        counts = att.groupBy(*by_dst_label).agg(c)
        return counts.select("*", rn).filter(first).select(*best_cols)

    return _vertex_supersteps(
        graph.edges.select("src", "dst"),
        init=lambda nodes, nv: nodes.select(*init_cols),
        message=lambda state: state.withColumnRenamed("node", "src"),
        combine=combine,
        update=lambda state, best: state.join(best, is_best, "left").select(*upd_cols),
        iterations=max_iter,
        schema=schema,
    )[0]


def node_similarity_jaccard(
    bipartite_edges: DataFrame,
    left_col: str = "src",
    right_col: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Jaccard similarity between right-side nodes of a bipartite edge
    set, by shared left-side neighbors (Neo4j GDS nodeSimilarity shape).

    Candidate pairs come from the self-equi-join on the shared neighbor
    key — an inverted-index join, never a cross join — so at 100 TB the
    cost is sum over neighbors of (fan-out choose 2); skewed hub
    neighbors are the hazard and should be capped/salted upstream.
    Degrees join back via broadcast (|right nodes| << |edges|).
    Returns (a, b, common, jaccard), a < b.
    """
    e = bipartite_edges.select(
        F.col(left_col).alias("nb"), F.col(right_col).alias("node")
    ).distinct()
    deg = e.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    a = e.select(F.col("nb"), F.col("node").alias("a"))
    b = e.select(F.col("nb"), F.col("node").alias("b"))
    inter = (
        a.join(b, "nb")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (
        inter.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common") / (F.col("da") + F.col("db") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )


def adamic_adar(
    bipartite_edges: DataFrame,
    left_col: str = "src",
    right_col: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Adamic-Adar link prediction between right-side nodes of a
    bipartite edge set: sum over shared left-side neighbors z of
    1/ln(deg(z)) (Neo4j GDS linkPrediction.adamicAdar shape).

    Same inverted-index self-join as :func:`node_similarity_jaccard` —
    candidate pairs enumerate per shared neighbor, never a cross join.
    The difference is WHERE the degree applies: AA weights each shared
    NEIGHBOR by its own rarity (1/ln of the neighbor's fan-out), so the
    neighbor-degree frame joins on the shared key BEFORE the pair
    aggregate.  Degree-1 neighbors are dropped (ln 1 = 0).  At scale the
    degree frame is tiny (one row per left node after distinct) and
    broadcastable; hub neighbors dominate pair fan-out and should be
    capped upstream, which also improves score quality (a hub's AA
    weight ~ 1/ln(huge) ≈ 0 anyway).
    Returns (a, b, common, aa_score), a < b, aa_score rounded 6dp.
    """
    e = bipartite_edges.select(
        F.col(left_col).alias("nb"), F.col(right_col).alias("node")
    ).distinct()
    deg = (
        e.groupBy("nb")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") > 1)
        .withColumn("w", F.lit(1.0) / F.log(F.col("d")))
    )
    a = e.select(F.col("nb"), F.col("node").alias("a"))
    b = e.select(F.col("nb"), F.col("node").alias("b"))
    return (
        a.join(b, "nb")
        .filter(F.col("a") < F.col("b"))
        .join(F.broadcast(deg.select("nb", "w")), "nb")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.round(F.sum("w"), 6).alias("aa_score"),
        )
        .filter(F.col("common") >= min_common)
    )


def hits(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities on a directed edge set, L1-normalized
    each half-step (Kleinberg 1999; Neo4j GDS alpha.hits shape).

    auth(n) = sum of hub over in-neighbors; hub(n) = sum of auth over
    out-neighbors; each vector rescaled to sum 1 so scores are
    comparable ratios.  Each half-step is one equi-join + one combinable
    groupBy — the same stationary-edges superstep cost as PageRank, but
    with NO teleport, so mass concentrates on the dominant bipartite
    core.  The normalization constant is a single scalar agg collected
    per half-step (driver sees one double, never data).  Returns
    (role 'hub'|'auth', node, score) un-truncated; callers rank/limit.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    hub = e.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1.0).alias("v")
    )
    auth = None
    for _ in range(iterations):
        raw_a = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("v").alias("v"))
            .select(F.col("dst").alias("node"), "v")
        )
        za = raw_a.agg(F.sum("v")).collect()[0][0]
        auth = raw_a.select("node", (F.col("v") / F.lit(za)).alias("v")).localCheckpoint()
        raw_h = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("v").alias("v"))
            .select(F.col("src").alias("node"), "v")
        )
        zh = raw_h.agg(F.sum("v")).collect()[0][0]
        hub = raw_h.select("node", (F.col("v") / F.lit(zh)).alias("v")).localCheckpoint()
    return hub.select(F.lit("hub").alias("role"), "node", F.col("v").alias("score")).unionAll(
        auth.select(F.lit("auth").alias("role"), "node", F.col("v").alias("score"))
    )


def ktruss_peel(
    edges_undirected_pairs: DataFrame, k: int = 4, rounds: int = 3
) -> DataFrame:
    """Bounded k-truss peel: `rounds` synchronous rounds of "drop every
    edge whose triangle support < k-2" over canonical undirected edges
    (s1 < s2).  Each round is one :func:`edge_triangle_support` pass
    (three equi-joins + a combinable groupBy) followed by a semi-join
    filter; localCheckpoint truncates the per-round lineage so the plan
    doesn't nest.  The round count is part of the declared semantics
    (both engines run exactly `rounds` sweeps whether or not a fixpoint
    is reached) — at scale the loop converges in O(max coreness) rounds
    and the support pass dominates, same cost shape as g24.
    Returns the surviving (s1, s2, support) after the final round.
    """
    e = edges_undirected_pairs.select("s1", "s2").distinct()
    sup = None
    for _ in range(rounds):
        sup = edge_triangle_support(e).filter(F.col("support") >= k - 2)
        e = sup.select("s1", "s2").localCheckpoint()
    return sup


def earliest_arrival(
    edges_ts: DataFrame, source: str, max_hops: int = 3,
    ts_col: str = "first_ts", duration_days_col: str | None = None,
) -> DataFrame:
    """Time-respecting earliest-arrival over a timestamped edge list
    (src, dst, ts): successive edges must not go back in time.  Runs a
    min-frontier label-correcting loop — lossless vs full path
    enumeration because a smaller arrival admits a superset of onward
    edges, so expanding only the per-node minimum preserves every
    reachable (node, min arrival).  Returns (node, arrival_ts).

    duration_days_col (optional) makes the traversal TIME-DEPENDENT:
    crossing an edge departing at `ts` lands at `ts + duration` days —
    the road-network routing model (travel time per edge) the reference
    system was built for.  Feasibility still compares the DEPARTURE
    time against the current arrival, and arrival at the far end does
    not depend on how early the walker reached the near end, so the
    per-node-min expansion stays lossless.

    One broadcast join + one combine per hop; the frontier is |V|-sized
    while the timestamped edges stay stationary (the Pregel cost model).
    """
    if duration_days_col is None:
        arrive = F.col(ts_col)
        e_arrive = F.col(f"e.{ts_col}")
    else:
        arrive = F.expr(f"timestampadd(DAY, {duration_days_col}, {ts_col})")
        e_arrive = F.expr(f"timestampadd(DAY, e.{duration_days_col}, e.{ts_col})")
    frontier = (
        edges_ts.filter(F.col("src") == source)
        .groupBy(F.col("dst").alias("node"))
        .agg(F.min(arrive).alias("t"))
        .localCheckpoint(eager=True)
    )
    found = [frontier]
    e = edges_ts.alias("e")
    for _ in range(max_hops - 1):
        fr = F.broadcast(frontier.alias("f"))
        frontier = (
            e.join(
                fr,
                (F.col("e.src") == F.col("f.node"))
                & (F.col(f"e.{ts_col}") >= F.col("f.t")),
            )
            .groupBy(F.col("e.dst").alias("node"))
            .agg(F.min(e_arrive).alias("t"))
            .localCheckpoint(eager=True)
        )
        found.append(frontier)
    return reduce(DataFrame.unionByName, found).groupBy("node").agg(F.min("t").alias("arrival_ts"))


def _brandes_partial(pdf, sources):
    """Vectorized Brandes dependency accumulation for one batch of
    `sources` (every node when None; absent ones are skipped) over a
    symmetric (undirected) pandas edge list.  Per source: a
    level-synchronous BFS computing shortest-path counts sigma, then a
    backward per-level sweep accumulating dependencies — every step is
    an edge-array mask + np.add.at, no per-node Python loops.  Returns
    (nodes, the UNSCALED dependency sum — pair-double-counting not yet
    halved)."""
    import numpy as np
    import pandas as pd

    nodes, src, dst = _factorize_edges(pdf)
    n = len(nodes)
    if sources is None:
        source_ids = range(n)
    else:
        source_ids = [i for i in pd.Index(nodes).get_indexer(list(sources)) if i >= 0]
    bc = np.zeros(n, dtype="float64")
    for s in source_ids:
        dist = np.full(n, -1, dtype="int64")
        sigma = np.zeros(n, dtype="float64")
        dist[s] = 0
        sigma[s] = 1.0
        level = 0
        while True:
            mask = dist[src] == level
            if not mask.any():
                break
            md = dst[mask]
            undiscovered = dist[md] < 0
            if undiscovered.any():
                dist[md[undiscovered]] = level + 1
            on_next = dist[md] == level + 1
            if not on_next.any():
                break
            np.add.at(sigma, md[on_next], sigma[src[mask][on_next]])
            level += 1
        delta = np.zeros(n, dtype="float64")
        for lev in range(level, 0, -1):
            mask = (dist[src] == lev - 1) & (dist[dst] == lev)
            if not mask.any():
                continue
            ms, md = src[mask], dst[mask]
            np.add.at(delta, ms, (sigma[ms] / sigma[md]) * (1.0 + delta[md]))
        delta[s] = 0.0
        bc += delta
    return nodes, bc


def _local_betweenness_pdf(pdf, sources, normalized: bool):
    import pandas as pd

    nodes, bc = _brandes_partial(pdf, sources)
    bc = bc / 2.0
    n = len(nodes)
    if normalized and n > 2:
        bc /= (n - 1) * (n - 2) / 2.0
    return pd.DataFrame({"node": nodes, "bc": bc})


def betweenness_centrality(
    graph: PropertyGraph,
    sources: list | None = None,
    normalized: bool = False,
    local: bool | None = None,
    source_batches: int = 32,
) -> DataFrame:
    """Betweenness centrality (Brandes) over an undirected graph given
    as symmetric edge pairs.  `sources=None` is exact (one sweep per
    vertex — O(V·E), only sane on small graphs); passing a sampled
    source list is the scale form (Brandes-Pich sampling: bc restricted
    to dependencies of the sampled sources; unbiased up to the n/k
    rescale, which is left to the caller so sampled values stay
    reproducible).  Returns DataFrame(node, bc).

    Scale shape: betweenness parallelizes across SOURCES, not within a
    sweep — the distributed path replicates the (aggregated, small)
    edge list to every task and partitions the source list, then sums
    per-task partial dependencies with one groupBy.  This rides the
    same regime every other graph op here exploits: the graph is a
    distinct-pairs rollup orders of magnitude smaller than the facts
    (SCALE.md) — 100 TB of facts, a few-GB graph.  A graph too big to
    replicate needs distributed per-level frontier joins for EVERY
    source (V supersteps per source) — at that point sampled landmark
    closeness (g22) is the honest substitute, not exact betweenness.
    """
    if _is_local(graph, local):
        return _run_local(
            graph,
            lambda pdf: _local_betweenness_pdf(pdf, sources, normalized),
            "node string, bc double",
        )
    import pandas as pd

    ne = _edge_count(graph)
    if ne > BETWEENNESS_REPLICATE_EDGE_LIMIT:
        raise ValueError(
            f"betweenness_centrality replicates the edge list to every task and "
            f"collects it on the driver once; {ne} edges exceeds the "
            f"{BETWEENNESS_REPLICATE_EDGE_LIMIT}-edge replication limit. Exact "
            "betweenness is infeasible at this scale — use sampled landmark "
            "closeness instead (multi_source_bfs, the g22 shape)."
        )
    spark = graph.edges.sparkSession
    edges_pdf = graph.edges.select("src", "dst").toPandas()
    b_edges = spark.sparkContext.broadcast(edges_pdf)
    if sources is None:
        sources = [r[0] for r in graph.vertices.select("id").collect()]
    # normalization basis = EDGE-ENDPOINT node count, the same basis the
    # local kernel's _factorize_edges sees — graph.vertices.count()
    # would diverge 6x on a 10-vertex/5-endpoint graph purely by which
    # auto-route fired; skipped entirely when not normalizing
    n_total = _node_set(graph.edges).count() if normalized else 0
    src_df = spark.createDataFrame(
        [(s,) for s in sources], ["source"]
    ).repartition(min(source_batches, max(1, len(sources))))

    def run(batches):
        import pandas as _pd

        batch_sources = []
        for b in batches:
            batch_sources.extend(b["source"].tolist())
        if not batch_sources:
            return
        nodes, part = _brandes_partial(b_edges.value, batch_sources)
        yield _pd.DataFrame({"node": nodes, "bc": part})

    partial = src_df.mapInPandas(run, schema="node string, bc double")
    out = partial.groupBy("node").agg((F.sum("bc") / 2.0).alias("bc"))
    if normalized and n_total > 2:
        out = out.select(
            "node", (F.col("bc") / ((n_total - 1) * (n_total - 2) / 2.0)).alias("bc")
        )
    # materialize before dropping the broadcast the plan depends on,
    # then release the (up to 50M-row) pandas edge list from executors
    out = out.localCheckpoint(eager=True)
    b_edges.unpersist()
    return out


def maximal_weight_matching(
    edges: DataFrame,
    rounds: int = 3,
    weight_col: str = "weight",
) -> DataFrame:
    """Greedy maximal weighted matching via synchronous propose-accept
    rounds (the Pregel matching pattern): each round, every unmatched
    src proposes to its best available neighbor (weight DESC, dst ASC
    tie-break) and every dst accepts its best proposal (weight DESC,
    src ASC) — accepted pairs leave the graph.  Deterministic given the
    tie-breaks; a maximal (not maximum) matching, the standard
    distributed relaxation.

    CONTRACT: edges must be BIPARTITE-ORIENTED — no node may appear on
    both the src and dst side (the fixture's c->s graphs satisfy this
    by id-prefix construction).  Acceptance is per-dst only, so a node
    proposing as src while accepting as dst in the same round would
    otherwise enter two matched pairs; a general-graph matching needs
    handshake (mutual-best) acceptance — not implemented here.

    Per round: two window shuffles (argmax per src, argmax per dst) and
    two broadcast anti-joins against the (small, <=|V|/2 per round)
    matched-node set; edges never move otherwise.  localCheckpoint per
    round truncates the iterative lineage.  Returns
    DataFrame(src, dst, <weight_col>, rnd).
    """
    remaining = edges.select("src", "dst", weight_col)
    matched = None
    for i in range(1, rounds + 1):
        ws = Window.partitionBy("src").orderBy(F.desc(weight_col), F.asc("dst"))
        wd = Window.partitionBy("dst").orderBy(F.desc(weight_col), F.asc("src"))
        prop = remaining.withColumn("__rs", F.row_number().over(ws)).filter(
            F.col("__rs") == 1
        )
        acc = (
            prop.withColumn("__rd", F.row_number().over(wd))
            .filter(F.col("__rd") == 1)
            .select("src", "dst", weight_col)
            .withColumn("rnd", F.lit(i))
            .localCheckpoint(eager=True)
        )
        matched = acc if matched is None else matched.unionByName(acc)
        used = F.broadcast(
            acc.select(F.col("src").alias("n"))
            .unionByName(acc.select(F.col("dst").alias("n")))
            .distinct()
        )
        remaining = (
            remaining.join(used, remaining.src == used.n, "left_anti")
            .join(used, remaining.dst == used.n, "left_anti")
            .localCheckpoint(eager=True)
        )
        if remaining.isEmpty():
            break
    return matched


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str = "weight",
    max_rounds: int = 30,
) -> DataFrame:
    """Borůvka minimum spanning forest over an undirected graph given
    as SYMMETRIC weighted pairs (src, dst, w).  Per round every
    component selects its minimum outgoing edge (ties broken on
    (w, min_end, max_end) so the choice is deterministic even with
    duplicate weights), selected edges join the forest, and components
    merge.  O(log V) rounds — the distributed MST algorithm, vs
    Kruskal's inherently sequential global edge sort.

    Per round: one broadcast join to label endpoints with their
    component, one argmin groupBy per component, and a component
    relabel via connected_components over the (tiny) forest — edges
    stay stationary throughout.  Returns the forest as canonical
    (src < dst) edges: DataFrame(src, dst, <weight_col>).

    Merging is only GUARANTEED to halve the component count per round
    (pathological pairings), so max_rounds defaults to 30 (≥ log2 of
    any feasible node count; completed forests exit early on the
    crossing-edge probe, so unused headroom costs nothing) and the
    function RAISES if crossing edges survive the horizon — silently
    returning a non-spanning forest was the r7-review failure mode.
    """
    e = edges.select("src", "dst", F.col(weight_col).alias("w"))
    spark = e.sparkSession
    nodes = e.select(F.col("src").alias("node")).distinct()
    comp = nodes.select("node", F.col("node").alias("comp")).localCheckpoint(eager=True)
    forest = None
    lo = F.least("src", "dst")
    hi = F.greatest("src", "dst")
    spanned = False
    for _ in range(max_rounds):
        ca = F.broadcast(comp.select(F.col("node").alias("an"), F.col("comp").alias("ac")))
        cb = F.broadcast(comp.select(F.col("node").alias("bn"), F.col("comp").alias("bc")))
        crossing = (
            e.join(ca, e.src == F.col("an"))
            .join(cb, e.dst == F.col("bn"))
            .filter(F.col("ac") != F.col("bc"))
        )
        if crossing.isEmpty():
            spanned = True
            break
        pick = (
            crossing.groupBy("ac")
            .agg(F.min(F.struct(F.col("w"), lo.alias("lo"), hi.alias("hi"))).alias("m"))
            .select(
                F.col("m.lo").alias("src"), F.col("m.hi").alias("dst"), F.col("m.w").alias("w")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        forest = pick if forest is None else forest.unionByName(pick).distinct()
        forest = forest.localCheckpoint(eager=True)
        sym_forest = forest.select("src", "dst").unionByName(
            forest.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        cc = connected_components(
            PropertyGraph(nodes.select(F.col("node").alias("id")), sym_forest)
        )
        comp = (
            nodes.join(
                cc.withColumnRenamed("node", "n"), nodes.node == F.col("n"), "left"
            )
            .select("node", F.coalesce("component", "node").alias("comp"))
            .localCheckpoint(eager=True)
        )
    if not spanned:
        # recompute with the FINAL labels (the in-loop frame is one
        # merge behind): crossing edges here mean a non-spanning forest
        ca = F.broadcast(comp.select(F.col("node").alias("an"), F.col("comp").alias("ac")))
        cb = F.broadcast(comp.select(F.col("node").alias("bn"), F.col("comp").alias("bc")))
        left_over = (
            e.join(ca, e.src == F.col("an"))
            .join(cb, e.dst == F.col("bn"))
            .filter(F.col("ac") != F.col("bc"))
        )
        if not left_over.isEmpty():
            raise RuntimeError(
                f"minimum_spanning_forest: crossing edges remain after "
                f"{max_rounds} rounds — the forest does not span yet; raise "
                "max_rounds (components only provably halve per round)"
            )
    if forest is None:
        return spark.createDataFrame([], "src string, dst string, w double").withColumnRenamed(
            "w", weight_col
        )
    return forest.select("src", "dst", F.col("w").alias(weight_col))


def katz_walk_counts(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Per-node counts of incoming walks of length 1..`rounds` over a
    directed edge list (src, dst): returns (node, w1..w{rounds}).

    Each round is ONE shuffle join of the stationary edge list against
    the previous round's per-node counts — the PageRank superstep
    shape, but with exact BIGINT walk counts so truncated Katz
    centrality (sum alpha^l * w_l) is cross-engine deterministic.
    """
    p = edges.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("c"))
    walks = [p]
    for _ in range(rounds - 1):
        p = (
            edges.join(p.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("c"))
        )
        walks.append(p)
    out = walks[0].select("node", F.col("c").alias("w1"))
    for i, w in enumerate(walks[1:], start=2):
        out = out.join(
            w.select("node", F.col("c").alias(f"w{i}")), "node", "left"
        ).withColumn(f"w{i}", F.coalesce(F.col(f"w{i}"), F.lit(0)))
    return out


def hits_counts(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) kept UN-normalized so every
    score is an exact BIGINT alternating-walk count: a <- A^T h,
    h <- A a from h0 = 1.  Returns (side, node, s1, s2) with s1/s2 the
    scores after round 1 / round `rounds` — nodes with out-edges get a
    hub row, nodes with in-edges an auth row.

    Each half-round is one broadcast of the node-sized score table
    into the stationary edge list + one map-side-combined shuffle
    (the g06 superstep shape).  Magnitude grows like (d_in d_out)^r;
    2 rounds stays far inside int64 for any realistic degree profile.
    """
    e = edges.select("src", "dst")
    a_scores, h_scores = [], []
    a = e.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("s"))
    for _ in range(rounds):
        a_scores.append(a)
        h = (
            e.join(F.broadcast(a.withColumnRenamed("node", "dst")), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("s").alias("s"))
        )
        h_scores.append(h)
        a = (
            e.join(F.broadcast(h.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("s").alias("s"))
        )
    # s1 = first-round score, s2 = final-round score, both exact ints
    # (a_scores[-1]/h_scores[-1] are the round-`rounds` scores; the
    # trailing `a` assignment is an unused lazy plan)
    if rounds == 1:
        auth = a_scores[0].select("node", F.col("s").alias("s1"), F.col("s").alias("s2"))
        hub = h_scores[0].select("node", F.col("s").alias("s1"), F.col("s").alias("s2"))
    else:
        auth = a_scores[-1].withColumnRenamed("s", "s2").join(
            a_scores[0].withColumnRenamed("s", "s1"), "node"
        )
        hub = h_scores[-1].withColumnRenamed("s", "s2").join(
            h_scores[0].withColumnRenamed("s", "s1"), "node"
        )
    return auth.select(F.lit("auth").alias("side"), "node", "s1", "s2").unionByName(
        hub.select(F.lit("hub").alias("side"), "node", "s1", "s2")
    )


def threshold_cascade(
    edges_sym: DataFrame, seeds: DataFrame, rounds: int = 4
) -> DataFrame:
    """Linear-threshold cascade (Granovetter/Kempe), theta = 1/2 as the
    exact integer test 2*|N(v) ∩ active| >= deg(v); `rounds`
    synchronous rounds (a declared horizon, not a fixpoint race).
    `seeds` is a (node) DataFrame.  Returns (node, r) = activation
    round for every node active after the horizon.  Takes no node
    frame: only nodes with symmetric edges can activate (activation
    needs a degree), so a vertex list would be dead input.

    A fixed-round :func:`_vertex_supersteps` spec: the active nodes
    send, the one shuffle counts them by dst, and the update stamps the
    round from a counter it closes over (:func:`_vertex_supersteps`
    calls it once per superstep, in order).  A seed no edge touches is unioned back at
    r = 0.
    """
    edges = edges_sym.select("src", "dst")
    seed_set = seeds.select("node").distinct().withColumn("r", F.lit(0))
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    # built once, outside the superstep loop (see _scc_min_label)
    r = F.col("r")
    active = r.isNotNull()
    msg_cols = [F.col("node").alias("src")]
    by_dst = F.col("dst").alias("node")
    na = F.count(F.lit(1)).alias("na")
    reached = 2 * F.col("na") >= F.col("d")
    round_no = itertools.count(1)

    def update(state, msgs):
        now = F.when(reached, F.lit(next(round_no)))
        return state.join(msgs, "node", "left").select("node", "d", F.coalesce(r, now).alias("r"))

    state = _vertex_supersteps(
        edges,
        init=lambda nodes, nv: nodes.join(deg, "node", "left").join(seed_set, "node", "left"),
        message=lambda state: state.filter(active).select(*msg_cols),
        combine=lambda att: att.groupBy(by_dst).agg(na),
        update=update,
        iterations=rounds,
        schema="node string, d long, r int",
    )[0]
    act = state.filter(active).select("node", "r")
    return act.unionByName(seed_set.join(act, "node", "left_anti"))


def luby_mis(nodes: DataFrame, edges_sym: DataFrame, rounds: int = 3) -> DataFrame:
    """Luby-style MIS rounds under the FIXED deterministic priority
    p(v) = md5(v): per round an undecided node joins the MIS when its
    priority beats every undecided neighbor's (strict order makes
    adjacent winners impossible), its neighbors drop out.  Returns
    (node, status) with status in {'mis','out','undecided'} after
    `rounds` — survivors are reported, so a fixed horizon is honest.

    Per round: one min-combine shuffle over both-endpoints-undecided
    edges + two broadcast anti-joins.
    """
    und = nodes.select("node", F.md5("node").alias("p")).localCheckpoint(eager=True)
    mis = None
    for _ in range(rounds):
        usrc = und.select(F.col("node").alias("src"), F.col("p").alias("psrc"))
        udst = und.select(F.col("node").alias("dst"), F.col("p").alias("pdst"))
        eu = edges_sym.join(F.broadcast(usrc), "src").join(F.broadcast(udst), "dst")
        nbrmin = eu.groupBy(F.col("src").alias("node")).agg(F.min("pdst").alias("mn"))
        win = (
            und.join(nbrmin, "node", "left")
            .filter(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
            .select("node")
            .localCheckpoint(eager=True)
        )
        out = (
            eu.join(F.broadcast(win.withColumnRenamed("node", "src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        mis = win if mis is None else mis.unionByName(win)
        und = (
            und.join(win, "node", "left_anti")
            .join(out, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
    mis = mis.localCheckpoint(eager=True)
    return (
        nodes.join(mis.withColumn("m", F.lit(1)), "node", "left")
        .join(und.select("node").withColumn("u", F.lit(1)), "node", "left")
        .select(
            "node",
            F.when(F.col("m") == 1, "mis")
            .when(F.col("u") == 1, "undecided")
            .otherwise("out")
            .alias("status"),
        )
    )
