"""The benchmark's workloads, by name.

``temporal_dedup`` runs the temporal store operations and the dedup
operators as one traffic mix: each is cheap next to the fixed cost of a
Spark session plus a warm pass, and a run of each alone would not fit
the benchmark's time budget (see WORKLOADS.md)."""

from .dedup_lsh import DedupLSH
from .graph_pregel import GraphPregel
from .temporal_rw import TemporalRW


class TemporalDedup:
    """One pass: the temporal_rw operations, then the dedup_lsh ones."""

    name = "temporal_dedup"
    work_unit = "rows written + probe rows read + docs deduplicated"
    # The JVM is still compiling after one warm pass: the next pass runs
    # 5-45% slower than the one after it, by how much CPU the machine
    # spares, and the pass after that is steady.  Hence two warm passes.
    warm_passes = 2
    # On 4 cores a pass takes 6-9 s: a 10 s window holds two passes unless
    # the run is slow, and a slow run would then measure only one.  The
    # minimum keeps every run measuring the same passes.
    min_passes = 2

    def __init__(self, seed: int, workdir: str):
        self.parts = (TemporalRW(seed, workdir), DedupLSH(seed, workdir))

    def generate(self) -> dict:
        return {p.name: p.generate() for p in self.parts}

    def load(self, spark) -> None:
        for p in self.parts:
            p.load(spark)

    def unload(self) -> None:
        for p in self.parts:
            p.unload()

    def reset(self) -> None:
        for p in self.parts:
            p.reset()

    def work_per_pass(self) -> float:
        return sum(p.work_per_pass() for p in self.parts)

    def ops(self) -> list:
        return [op for p in self.parts for op in p.ops()]

    def compute_references(self, threads: int) -> None:
        for p in self.parts:
            p.compute_references(threads)

    def layer_metrics(self, passes, generic: dict) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.layer_metrics(passes, generic))
        return out


WORKLOADS = {w.name: w for w in (GraphPregel, TemporalDedup)}
