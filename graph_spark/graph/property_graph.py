"""DataFrame-native property graph: the vertex and edge frames every
graph algorithm runs over.

Capability parity target: the graph/traversal surface of the reference
temporal-graph system (SURVEY.md §2.C) — degree, k-hop, BFS, connected
components, PageRank, triangles, time-respecting traversal — rebuilt on
Spark DataFrames (GraphX has no Python API and GraphFrames is absent).

Scale design (the part that matters at 100 TB) lives in
`algorithms.py`, which routes every kernel through one rule
(`_is_local`: numpy kernel below LOCAL_EDGE_THRESHOLD edges) and runs
the vertex-state kernels on one superstep driver
(`_vertex_supersteps`):
- Edges are the big table and they NEVER move after one initial
  repartition: each superstep joins the (small) vertex-state messages
  onto the edge partitions and combines them by dst, so a superstep is
  one shuffle (the groupBy(dst) message combine) instead of three.
- The driver picks the layout from |V|: broadcast state while it fits
  (VERTEX_STATE_BROADCAST_LIMIT), else state and an src-partitioned
  edge copy co-partitioned on node, so the joins stay co-located.
- Lineage is truncated with one localCheckpoint per superstep
  (`_checkpoint`, planned without AQE so the state keeps its node
  partitioning) — unbounded iterative lineage is THE failure mode of
  DataFrame loops (re-plan cost grows superlinearly).  The same job
  observes the count the loop halts on, so a superstep is one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class PropertyGraph:
    """vertices: DataFrame with an `id` column (+ properties)
    edges: DataFrame with `src`, `dst` columns (+ properties)."""

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        if "id" not in vertices.columns:
            raise ValueError("vertices needs an 'id' column")
        for c in ("src", "dst"):
            if c not in edges.columns:
                raise ValueError(f"edges needs a '{c}' column")
        self.vertices = vertices
        self.edges = edges

    # ---- views ----------------------------------------------------------

    def subgraph(self, vertex_pred=None, edge_pred=None) -> "PropertyGraph":
        """Induced subgraph (the filterVertices/filterEdges analog):
        optional predicates on vertices and/or edges; edges are then
        restricted to surviving endpoints via two left-semi joins
        (broadcastable — the filtered vertex id set is small relative to
        edges, and no edge columns are duplicated or shuffled)."""
        v = self.vertices.filter(vertex_pred) if vertex_pred is not None else self.vertices
        e = self.edges.filter(edge_pred) if edge_pred is not None else self.edges
        if vertex_pred is not None:
            ids = F.broadcast(v.select("id"))
            e = e.join(
                ids.withColumnRenamed("id", "src"), "src", "left_semi"
            ).join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
            e = e.select(*self.edges.columns)
        return PropertyGraph(v, e)
