"""temporal_rw: writes beside reads on one temporal property log.

A seeded change log (Zipf-skewed entity ids, two props) is stored with
``write_time_bucketed`` (one directory per month).  Each pass appends
batches to the stored log; after each append a fresh
``TemporalPropertyStore`` over the directory serves values_at_many,
value_at, range_aggregate, timeline and align, so every read is a
read-after-write.  A quarter of each batch rewrites existing
(entity, prop, ts) keys with a higher write sequence, so last-write-wins
resolution is on the checked path.  ``reset`` deletes the appended files,
so every pass starts from the same stored state.

References are DuckDB queries (ASOF JOIN, arg_max(value, seq)) over the
generated rows, with timestamps as epoch microseconds.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..checks import same_rows
from ..harness import Op

ENTITIES = 20_000
ZIPF_EXPONENT = 1.1
BASE_POINTS = 100_000
BATCH_ROWS = 4_000
BATCHES_PER_PASS = 1
PROBES = 2_000
START = dt.datetime(2024, 1, 1)
SPAN_S = 730 * 86_400  # 24 months of one-second timestamps
# range_aggregate and align compute averages in another order than
# DuckDB; everything else is compared exactly.
AVG_RTOL = 1e-9


class TemporalRW:
    name = "temporal_rw"
    work_unit = "rows written + probe rows read"

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.dir = os.path.join(workdir, "temporal")
        self.store_dir = os.path.join(self.dir, "store")
        self._probes = None

    # ---- inputs ------------------------------------------------------

    def generate(self) -> dict:
        rng = np.random.default_rng(self.seed)
        weights = 1.0 / np.arange(1, ENTITIES + 1) ** ZIPF_EXPONENT
        self._entity_p = weights / weights.sum()
        self._entity_perm = rng.permutation(ENTITIES)  # which ids are hot
        t0_us = int(START.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

        def rows(n, seq):
            return pd.DataFrame({
                "entity_id": self._entity_perm[rng.choice(ENTITIES, n, p=self._entity_p)].astype(np.int64),
                "prop": np.where(rng.random(n) < 0.5, "p0", "p1"),
                "ts": t0_us + rng.integers(0, SPAN_S, n) * 1_000_000,
                "value": rng.integers(0, 100_000, n) / 100.0,
                "seq": np.full(n, seq, dtype=np.int64),
            })

        keys = ["entity_id", "prop", "ts"]
        self.base = rows(BASE_POINTS, 0).drop_duplicates(keys, ignore_index=True)
        self.batches = []
        for b in range(BATCHES_PER_PASS):
            fresh = rows(BATCH_ROWS - BATCH_ROWS // 4, b + 1)
            rewrite = self.base.sample(BATCH_ROWS // 4, random_state=rng).assign(
                value=rng.integers(0, 100_000, BATCH_ROWS // 4) / 100.0, seq=b + 1
            )
            self.batches.append(pd.concat([rewrite, fresh]).drop_duplicates(keys, ignore_index=True))
        self.probes = pd.DataFrame({
            "entity_id": self._entity_perm[rng.choice(ENTITIES, PROBES, p=self._entity_p)].astype(np.int64),
            "ts": t0_us + rng.integers(0, SPAN_S, PROBES) * 1_000_000,
        })
        month = int(rng.integers(2, 21))
        lo = dt.datetime(2024 + month // 12, month % 12 + 1, 1)
        hi = dt.datetime(2024 + (month + 2) // 12, (month + 2) % 12 + 1, 1)
        at = START + dt.timedelta(seconds=int(rng.integers(0, SPAN_S)))
        self.window = (lo.strftime("%Y-%m-%d %H:%M:%S"), hi.strftime("%Y-%m-%d %H:%M:%S"))
        self.at_ts = at.strftime("%Y-%m-%d %H:%M:%S")

        os.makedirs(self.dir, exist_ok=True)
        _write(self.base, os.path.join(self.dir, "base.parquet"))
        for b, batch in enumerate(self.batches):
            _write(batch, os.path.join(self.dir, f"batch{b}.parquet"))
        _write(self.probes, os.path.join(self.dir, "probes.parquet"))
        return {"entities": ENTITIES, "base_points": len(self.base),
                "batch_rows": [len(b) for b in self.batches], "probes": PROBES,
                "window": list(self.window), "at_ts": self.at_ts}

    def load(self, spark) -> None:
        from graph_spark.sources.writers import write_time_bucketed

        shutil.rmtree(self.store_dir, ignore_errors=True)
        write_time_bucketed(spark.read.parquet(os.path.join(self.dir, "base.parquet")),
                            self.store_dir, "ts", bucket="month")
        self._base_files = _listing(self.store_dir)
        self._known = dict(self._base_files)
        self._probes = spark.read.parquet(os.path.join(self.dir, "probes.parquet")).persist()
        self._probes.count()

    def unload(self) -> None:
        if self._probes is not None:
            self._probes.unpersist()
        shutil.rmtree(self.store_dir, ignore_errors=True)

    def reset(self) -> None:
        """Delete every file and directory the appends added."""
        for path in sorted(set(_listing(self.store_dir)) - set(self._base_files), reverse=True):
            os.remove(path)
        for root, dirs, _ in os.walk(self.store_dir, topdown=False):
            for d in dirs:
                p = os.path.join(root, d)
                if not os.listdir(p):
                    os.rmdir(p)
        self._known = dict(self._base_files)

    def work_per_pass(self) -> float:
        return float(sum(len(b) for b in self.batches) + PROBES * len(self.batches))

    # ---- operations --------------------------------------------------

    def _store(self, spark):
        from graph_spark.temporal.store import TemporalPropertyStore

        return TemporalPropertyStore(
            spark.read.parquet(self.store_dir).select("entity_id", "prop", "ts", "value", "seq")
        )

    def ops(self) -> list[Op]:
        from graph_spark.sources.writers import write_time_bucketed

        lo, hi = self.window
        ops = []
        for b in range(len(self.batches)):
            ref = self.expected[b]
            path = os.path.join(self.dir, f"batch{b}.parquet")

            def write(s, path=path):
                write_time_bucketed(s.read.parquet(path), self.store_dir, "ts", bucket="month",
                                    mode="append")

            ops += [
                Op("write", "sources", write, lambda out, b=b: self._check_append(b), kind="write",
                   info=lambda: self._last_append),
                Op("values_at_many", "temporal",
                   lambda s: self._store(s).values_at_many(self._probes, prop="p0"),
                   lambda out, r=ref: same_rows(out, r["values_at_many"], ts_cols=["ts"]),
                   kind="read"),
                Op("value_at", "temporal",
                   lambda s: self._store(s).value_at(self.at_ts, prop="p0"),
                   lambda out, r=ref: same_rows(out, r["value_at"]), kind="read"),
                Op("range_aggregate", "temporal",
                   lambda s: self._store(s).range_aggregate(lo, hi, prop="p0"),
                   lambda out, r=ref: same_rows(out, r["range_aggregate"], rtol=AVG_RTOL),
                   kind="read", scan_metrics=True,
                   info=lambda: {"total_files": sum(p.endswith(".parquet") for p in self._known)}),
                Op("timeline", "temporal",
                   lambda s: self._store(s).timeline(lo, hi, prop="p1"),
                   lambda out, r=ref: same_rows(out, r["timeline"], ts_cols=["valid_from", "valid_to"]),
                   kind="read"),
                Op("align", "temporal",
                   lambda s: self._store(s).align(["p0", "p1"]),
                   lambda out, r=ref: same_rows(out, r["align"], ts_cols=["ts"]),
                   kind="read"),
            ]
        return ops

    def _check_append(self, b: int) -> bool:
        """The append wrote exactly the batch's rows, read back with pyarrow."""
        now = _listing(self.store_dir)
        new = {p: size for p, size in now.items() if p not in self._known}
        self._known = now
        files = [p for p in new if p.endswith(".parquet")]
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
        self._last_append = {"files": len(files), "bytes": sum(new[p] for p in files), "rows": rows}
        return rows == len(self.batches[b])

    # ---- references (DuckDB) -----------------------------------------

    def compute_references(self, threads: int) -> None:
        import duckdb

        lo, hi = (_epoch_us(w) for w in self.window)
        at = _epoch_us(self.at_ts)
        con = duckdb.connect()
        con.execute(f"SET threads = {threads}")
        con.register("probes", self.probes)
        self.expected = []
        try:
            for b in range(len(self.batches)):
                log = pd.concat([self.base, *self.batches[: b + 1]], ignore_index=True)
                con.register("log", log)
                con.execute("""
                    CREATE OR REPLACE TEMP TABLE latest AS
                    SELECT entity_id, prop, ts, arg_max(value, seq) AS value
                    FROM log GROUP BY entity_id, prop, ts""")
                q = {
                    "values_at_many": """
                        SELECT p.entity_id, p.ts, l.value FROM probes p
                        ASOF LEFT JOIN (SELECT * FROM latest WHERE prop = 'p0') l
                          ON p.entity_id = l.entity_id AND p.ts >= l.ts""",
                    "value_at": f"""
                        SELECT entity_id, arg_max(value, ts) AS value FROM latest
                        WHERE prop = 'p0' AND ts <= {at} GROUP BY entity_id""",
                    "range_aggregate": f"""
                        SELECT entity_id, min(value) AS mn, max(value) AS mx, avg(value) AS avg
                        FROM latest WHERE prop = 'p0' AND ts >= {lo} AND ts < {hi}
                        GROUP BY entity_id""",
                    "timeline": f"""
                        SELECT entity_id, value, greatest(vf, {lo}) AS valid_from,
                               least(coalesce(vt, {hi}), {hi}) AS valid_to
                        FROM (SELECT entity_id, value, ts AS vf,
                                     lead(ts) OVER (PARTITION BY entity_id ORDER BY ts) AS vt
                              FROM latest WHERE prop = 'p1')
                        WHERE greatest(vf, {lo}) < least(coalesce(vt, {hi}), {hi})""",
                    "align": """
                        SELECT k.entity_id, k.ts, a.value AS p0, c.value AS p1
                        FROM (SELECT DISTINCT entity_id, ts FROM latest) k
                        ASOF LEFT JOIN (SELECT * FROM latest WHERE prop = 'p0') a
                          ON k.entity_id = a.entity_id AND k.ts >= a.ts
                        ASOF LEFT JOIN (SELECT * FROM latest WHERE prop = 'p1') c
                          ON k.entity_id = c.entity_id AND k.ts >= c.ts""",
                }
                self.expected.append({name: con.execute(sql).fetchdf() for name, sql in q.items()})
        finally:
            con.close()

    def layer_metrics(self, passes, generic: dict) -> dict:
        """Write and read latencies, what the appends wrote and the share of
        stored files range_aggregate scanned; median over passes."""
        per_pass = []
        for recs in passes:
            writes = [r for r in recs if r.op.kind == "write" and r.seconds is not None]
            reads = [r for r in recs if r.op.kind == "read" and r.seconds is not None]
            scans = [r for r in recs if "files_read" in r.stats]
            per_pass.append({
                "temporal.write_p50_s": float(np.median([r.seconds for r in writes])),
                "temporal.read_p50_s": float(np.median([r.seconds for r in reads])),
                "sources.files_written": float(sum(r.info["files"] for r in writes)),
                "sources.bytes_written_per_row": float(
                    sum(r.info["bytes"] for r in writes) / max(1, sum(r.info["rows"] for r in writes))),
                "sources.files_read_frac": float(np.mean(
                    [r.stats["files_read"] / r.info["total_files"] for r in scans])),
            })
        return {k: float(np.median([p[k] for p in per_pass])) for k in per_pass[0]}


def _write(df: pd.DataFrame, path: str) -> None:
    """Parquet with microsecond UTC timestamps (Spark reads them as
    TimestampType; nanosecond files read back as BIGINT in this session)."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "ts" in df:
        table = table.set_column(table.schema.get_field_index("ts"), "ts",
                                 pa.array(df["ts"].to_numpy(), pa.int64()).cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(table, path)


def _epoch_us(text: str) -> int:
    return int(dt.datetime.strptime(text, "%Y-%m-%d %H:%M:%S")
               .replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _listing(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out
