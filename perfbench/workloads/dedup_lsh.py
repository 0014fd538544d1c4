"""dedup_lsh: the md5-bound near-duplicate path of the LLM-data operators.

A seeded corpus of whitespace-token documents with planted
near-duplicates (a few tokens replaced) and verbatim copies.  One pass
runs exact_dedup_groups and minhash_lsh_candidates(k=16, bands=4).  The
reference re-implements the documented md5 MinHash family and band hash
in DuckDB SQL, independent of the program.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..checks import same_rows
from ..harness import Op

DOCS = 2_000
TOKENS = 40
VOCAB = 20_000
NEAR_DUP_FRAC = 0.10
EXACT_COPY_FRAC = 0.03
MAX_REPLACED = 6  # tokens replaced in a near-duplicate: 1..MAX_REPLACED
K, BANDS = 16, 4
USEFUL_JACCARD = 0.8


class DedupLSH:
    name = "dedup_lsh"
    work_unit = "docs"

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.dir = os.path.join(workdir, "dedup")
        self._df = None

    def generate(self) -> dict:
        rng = np.random.default_rng(self.seed)
        n_near = int(DOCS * NEAR_DUP_FRAC)
        n_copy = int(DOCS * EXACT_COPY_FRAC)
        n_orig = DOCS - n_near - n_copy
        toks = rng.integers(0, VOCAB, (DOCS, TOKENS))
        near_src = rng.integers(0, n_orig, n_near)
        toks[n_orig:n_orig + n_near] = toks[near_src]
        for row in range(n_orig, n_orig + n_near):
            pos = rng.choice(TOKENS, int(rng.integers(1, MAX_REPLACED + 1)), replace=False)
            toks[row, pos] = rng.integers(0, VOCAB, len(pos))
        toks[n_orig + n_near:] = toks[rng.integers(0, n_orig, n_copy)]
        toks = toks[rng.permutation(DOCS)]
        self.texts = [" ".join(f"w{t}" for t in row) for row in toks]
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, "docs.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(np.arange(DOCS), pa.int64()),
                                 "text": pa.array(self.texts, pa.string())}), self.path)
        return {"docs": DOCS, "tokens_per_doc": TOKENS, "vocab": VOCAB,
                "near_duplicates": n_near, "exact_copies": n_copy}

    def load(self, spark) -> None:
        self._df = spark.read.parquet(self.path).persist()
        self._df.count()

    def unload(self) -> None:
        if self._df is not None:
            self._df.unpersist()

    def reset(self) -> None:
        """The operators do not mutate their input: nothing to restore."""

    def work_per_pass(self) -> float:
        return float(DOCS)

    def ops(self) -> list[Op]:
        from graph_spark.operators.dedup import exact_dedup_groups, minhash_lsh_candidates

        return [
            Op("exact_dedup", "operators", lambda s: exact_dedup_groups(self._df),
               lambda out: same_rows(out, self.expected["exact_dedup"])),
            Op("minhash_lsh", "operators",
               lambda s: minhash_lsh_candidates(self._df, k=K, bands=BANDS),
               lambda out: same_rows(out, self.expected["minhash_lsh"])),
        ]

    def compute_references(self, threads: int) -> None:
        """md5(text) groups, and the MinHash LSH pair set: sig_i = min over
        distinct tokens of md5(i || ':' || token); band hash = md5 of the
        band's "ii:sig" strings joined by '|' in position order; a pair
        (a < b) is a candidate when any band hash matches."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {threads}")
            con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{self.path}')")
            exact = con.execute(
                "SELECT md5(text) AS hash, count(*) AS cnt FROM docs GROUP BY 1").fetchdf()
            pairs = con.execute(f"""
                WITH toks AS (
                    SELECT DISTINCT doc_id, t FROM (
                        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM docs)
                    WHERE t <> ''),
                sig AS (
                    SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || t)) AS s
                    FROM toks, range({K}) r(i) GROUP BY doc_id, i),
                band AS (
                    SELECT doc_id, i // {K // BANDS} AS band,
                           md5(string_agg(lpad(CAST(i AS VARCHAR), 2, '0') || ':' || s, '|'
                                          ORDER BY i)) AS bh
                    FROM sig GROUP BY doc_id, i // {K // BANDS})
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM band x JOIN band y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
            """).fetchdf()
        finally:
            con.close()
        self.expected = {"exact_dedup": exact, "minhash_lsh": pairs}

    def layer_metrics(self, passes, generic: dict) -> dict:
        """Candidate pairs the operator returned, and the share of the
        candidate pairs that are true near duplicates (exact token-set
        Jaccard >= USEFUL_JACCARD)."""
        pairs = self.expected["minhash_lsh"]
        lsh_rows = [r.rows for recs in passes for r in recs if r.op.name == "minhash_lsh" and r.ok]
        sets = [frozenset(t.split(" ")) for t in self.texts]
        useful = sum(
            len(sets[a] & sets[b]) >= USEFUL_JACCARD * len(sets[a] | sets[b])
            for a, b in zip(pairs["a"], pairs["b"])
        )
        return {"operators.lsh_pairs": float(np.median(lsh_rows)) if lsh_rows else 0.0,
                "operators.lsh_useful_frac": useful / max(1, len(pairs))}
