"""graph_pregel: the distributed superstep path of the Pregel kernels.

A seeded random directed graph with planted structure, generated here with
numpy: dense random blocks (each one strongly connected component), a
one-way chain of blocks, one block with no edge to the rest (a second
weakly connected component) and source nodes with out-edges only
(singleton components), so the CC, SCC and BFS outputs each have more
than one label or level to get wrong.  One pass runs
pagerank(iterations=10), bfs_distances, connected_components (over the
symmetric closure, which the kernel assumes) and
strongly_connected_components, all with ``local=False`` so every kernel
takes its distributed superstep loop instead of the driver-local numpy
route.  References are numpy / pure Python, written from the kernels'
documented semantics.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..checks import same_rows
from ..harness import Op

NODES = 1_000
BLOCKS = 3  # planted strongly connected blocks; the last has no edge to the others
SOURCES = 40  # nodes with out-edges into block 0 only
INTRA_EDGES = 40_000  # random edges drawn inside the blocks, before de-duplication
CHAIN_EDGES = 20  # edges from block b to block b + 1, for b + 1 < BLOCKS - 1
SOURCE_OUT = 3
PAGERANK_ITERATIONS = 10
DAMPING = 0.85
BFS_MAX_HOPS = 30
# PageRank sums contributions in another order than the reference, so it
# is compared at this relative tolerance; every other output is exact.
PAGERANK_RTOL = 1e-9


class GraphPregel:
    name = "graph_pregel"
    work_unit = "input edges x kernels"
    warm_passes = 1
    min_passes = 1  # one pass outlasts a 10 s window

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.dir = os.path.join(workdir, "graph")
        self._frames: list = []

    # ---- inputs ------------------------------------------------------

    def generate(self) -> dict:
        rng = np.random.default_rng(self.seed)
        # the same ids in the same roles for every seed: the SCC kernel's
        # pivots are the minimum ids, so its round count, and the pass
        # time, does not depend on where the seed put them
        sources = np.arange(SOURCES)
        blocks = np.array_split(np.arange(SOURCES, NODES), BLOCKS)
        src, dst = [], []
        for block in blocks:
            n = INTRA_EDGES // BLOCKS
            src.append(rng.choice(block, n))
            dst.append(rng.choice(block, n))
        for a, b in zip(blocks[:BLOCKS - 2], blocks[1:BLOCKS - 1]):
            src.append(rng.choice(a, CHAIN_EDGES))
            dst.append(rng.choice(b, CHAIN_EDGES))
        src.append(np.repeat(sources, SOURCE_OUT))
        dst.append(rng.choice(blocks[0], SOURCES * SOURCE_OUT))
        src, dst = np.concatenate(src), np.concatenate(dst)
        keep = src != dst
        pairs = rng.permutation(np.unique(src[keep] * NODES + dst[keep]))
        self.src, self.dst = pairs // NODES, pairs % NODES
        # zero-padded ids: lexicographic order (the kernels' min-id label)
        # equals numeric order, so the reference can work on indices
        self.names = np.array([f"v{i:06d}" for i in range(NODES)], dtype=object)
        self.source = int(rng.choice(blocks[0]))  # reaches blocks 0 .. BLOCKS - 2 only
        sym = np.unique(np.concatenate([self.src * NODES + self.dst, self.dst * NODES + self.src]))
        self.sym_src, self.sym_dst = sym // NODES, sym % NODES
        os.makedirs(self.dir, exist_ok=True)
        for fname, s, d in (("edges", self.src, self.dst), ("edges_sym", self.sym_src, self.sym_dst)):
            pq.write_table(
                pa.table({"src": pa.array(self.names[s], pa.string()),
                          "dst": pa.array(self.names[d], pa.string())}),
                os.path.join(self.dir, f"{fname}.parquet"),
            )
        return {"nodes": NODES, "blocks": BLOCKS, "sources": SOURCES, "edges": int(len(self.src)),
                "edges_sym": int(len(sym)), "bfs_source": self.names[self.source]}

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        from graph_spark.graph.property_graph import PropertyGraph

        graphs = []
        for fname in ("edges", "edges_sym"):
            edges = spark.read.parquet(os.path.join(self.dir, f"{fname}.parquet")).persist()
            edges.count()
            self._frames.append(edges)
            graphs.append(PropertyGraph(edges.select(F.col("src").alias("id")), edges))
        self.graph, self.graph_sym = graphs

    def unload(self) -> None:
        for df in self._frames:
            df.unpersist()
        self._frames = []

    def reset(self) -> None:
        """The kernels do not mutate their input: nothing to restore."""

    def work_per_pass(self) -> float:
        return float(len(self.src) * 4)

    # ---- operations --------------------------------------------------

    def ops(self) -> list[Op]:
        from graph_spark.graph import algorithms as A

        ref = self.expected
        return [
            Op("pagerank", "graph",
               lambda s: A.pagerank(self.graph, iterations=PAGERANK_ITERATIONS,
                                    damping=DAMPING, local=False),
               lambda out: same_rows(out, ref["pagerank"], rtol=PAGERANK_RTOL)),
            Op("bfs", "graph",
               lambda s: A.bfs_distances(self.graph, self.names[self.source], BFS_MAX_HOPS,
                                         local=False),
               lambda out: same_rows(out, ref["bfs"])),
            Op("cc", "graph",
               lambda s: A.connected_components(self.graph_sym, local=False),
               lambda out: same_rows(out, ref["cc"])),
            Op("scc", "graph",
               lambda s: A.strongly_connected_components(self.graph, local=False),
               lambda out: same_rows(out, ref["scc"])),
        ]

    # ---- references (numpy / pure Python) ----------------------------

    def compute_references(self, threads: int) -> None:
        present = np.zeros(NODES, dtype=bool)
        present[self.src] = True
        present[self.dst] = True
        ids = np.flatnonzero(present)
        self.expected = {
            "pagerank": pd.DataFrame({"node": self.names[ids], "rank": _pagerank(self.src, self.dst, present)[ids]}),
            "bfs": _bfs(self.src, self.dst, self.source, self.names),
            "cc": pd.DataFrame({"node": self.names[ids],
                                "component": self.names[_min_label_cc(self.sym_src, self.sym_dst)[ids]]}),
            "scc": pd.DataFrame({"node": self.names[ids],
                                 "component": self.names[_scc_min_label(self.src, self.dst)[ids]]}),
        }

    def layer_metrics(self, passes, generic: dict) -> dict:
        return {"graph.jobs_per_kernel": generic.get("graph.jobs", 0) / 4}


def _pagerank(src, dst, present):
    """Uniform 1/|V| start, (1-d)/|V| teleport, dangling mass not redistributed."""
    nv = int(present.sum())
    out_deg = np.bincount(src, minlength=NODES)
    rank = np.where(present, 1.0 / nv, 0.0)
    for _ in range(PAGERANK_ITERATIONS):
        acc = np.bincount(dst, weights=rank[src] / out_deg[src], minlength=NODES)
        rank = np.where(present, (1.0 - DAMPING) / nv + DAMPING * acc, 0.0)
    return rank


def _bfs(src, dst, source, names):
    """Hop distance from ``source`` (itself at 0), at most BFS_MAX_HOPS."""
    dist = np.full(NODES, -1, dtype=np.int64)
    dist[source] = 0
    frontier = np.array([source])
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = np.unique(dst[np.isin(src, frontier)])
        nxt = nxt[dist[nxt] < 0]
        if not len(nxt):
            break
        dist[nxt] = hop
        frontier = nxt
    reached = np.flatnonzero(dist >= 0)
    return pd.DataFrame({"node": names[reached], "d": dist[reached]})


def _min_label_cc(src, dst):
    """Smallest node index in each node's undirected component."""
    label = np.arange(NODES)
    while True:
        new = label.copy()
        np.minimum.at(new, dst, label[src])
        new = new[new]  # pointer jumping: labels only ever point lower
        if np.array_equal(new, label):
            return label
        label = new


def _scc_min_label(src, dst):
    """Iterative Tarjan; each strongly connected component is labelled by
    its smallest node index."""
    order = np.argsort(src, kind="stable")
    starts = np.searchsorted(src[order], np.arange(NODES + 1))
    adj = dst[order]
    index = np.full(NODES, -1)
    low = np.zeros(NODES, dtype=np.int64)
    on_stack = np.zeros(NODES, dtype=bool)
    label = np.arange(NODES)
    stack: list = []
    counter = 0
    for root in range(NODES):
        if index[root] >= 0:
            continue
        work = [(root, starts[root])]
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack[root] = True
        while work:
            v, i = work[-1]
            if i < starts[v + 1]:
                work[-1] = (v, i + 1)
                w = adj[i]
                if index[w] < 0:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack[w] = True
                    work.append((w, starts[w]))
                elif on_stack[w]:
                    low[v] = min(low[v], index[w])
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    members.append(w)
                    if w == v:
                        break
                label[members] = min(members)
    return label
