"""Multimodal column support (SURVEY.md §2.F).

Images/audio/video ride through the engine as opaque BinaryType columns
with a typed metadata struct.  Decode / feature-extraction run as
Arrow-batched pandas functions over mapInPandas — the Spark-side
plumbing (schema, batching, partitioning) is real and tested; the codec
step itself is stubbed because no image/audio libraries exist in this
container (clearly marked below).

At 100 TB: binary payloads dominate row size, so these operators always
select only (id, payload) before the UDF (column pruning keeps the
shuffle out of the scan), and batch size is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch`.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", StringType()),
    ]
)


def to_media_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a multimodal table from the documents fixture: utf-8 bytes
    of the text standing in for an opaque media payload."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", StringType()),
    ]
)


def sample_frames(media: DataFrame, frame_bytes: int = 64, every: int = 2) -> DataFrame:
    """Frame sampling over an opaque payload: split each payload into
    fixed-size frames, keep every `every`-th, emit one row per kept
    frame (the 1-row -> N-rows mapInPandas shape a video frame-sampler
    uses).  The frame decode itself is the stubbed codec step; the
    deterministic chunk checksum keeps the plumbing oracle-checkable."""
    pruned = media.select("doc_id", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            ids, idxs, sizes, sums = [], [], [], []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every):
                    fr = b[i * frame_bytes:(i + 1) * frame_bytes]
                    ids.append(did)
                    idxs.append(i)
                    sizes.append(len(fr))
                    sums.append(hashlib.md5(fr).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "checksum": pd.Series(sums, dtype="object"),
                }
            )

    return pruned.mapInPandas(batches, FRAME_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    The per-batch body is where a real decoder would run; here it
    computes a deterministic md5 checksum so the mapInPandas plumbing
    (schema in/out, batch iteration, column pruning) is fully exercised.
    """
    pruned = media.select("doc_id", "media_type", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "checksum": pdf["payload"].map(lambda b: hashlib.md5(b).hexdigest()),
                }
            )

    return pruned.mapInPandas(batches, FEATURE_SCHEMA)


def window_chunks(media: DataFrame, window_bytes: int = 64, hop: int = 32) -> DataFrame:
    """Overlapping windowed chunking over an opaque payload (the
    audio-style STFT/hop shape: windows of `window_bytes` starting every
    `hop` bytes, final window possibly short).  One output row per
    window via the same 1->N mapInPandas pattern as `sample_frames`;
    the codec/FFT step is the stubbed part, the deterministic chunk
    checksum keeps the plumbing oracle-checkable."""
    pruned = media.select("doc_id", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            ids, idxs, sizes, sums = [], [], [], []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_wins = (max(len(b) - 1, 0)) // hop + 1 if len(b) else 0
                for i in range(n_wins):
                    fr = b[i * hop:i * hop + window_bytes]
                    ids.append(did)
                    idxs.append(i)
                    sizes.append(len(fr))
                    sums.append(hashlib.md5(fr).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "win_idx": pd.Series(idxs, dtype="int64"),
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "checksum": pd.Series(sums, dtype="object"),
                }
            )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("win_idx", LongType()),
            StructField("n_bytes", LongType()),
            StructField("checksum", StringType()),
        ]
    )
    return pruned.mapInPandas(batches, schema)


def compress_ratio(media: DataFrame, level: int = 6) -> DataFrame:
    """Per-payload zlib compressibility: (doc_id, n_bytes, z_bytes,
    ratio) — the CCNet/RefinedWeb-style quality signal (templated/
    repetitive payloads compress far below natural text, random or
    already-compressed payloads approach 1.0).  zlib is deterministic
    at a fixed level, so the ratio is reproducible anywhere; the op is
    declared rows-only (no SQL engine ships zlib) with property tests
    pinning the planted-payload ordering.

    Same scale discipline as the other media ops: column-prune to
    (id, payload) BEFORE mapInPandas so payloads never ride a shuffle;
    Arrow batch size bounds executor memory; output is 4 scalars per
    payload, so the expensive bytes die inside the task."""
    import pandas as pd
    import zlib

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    pruned = media.select("doc_id", "payload")

    def batches(it):
        for pdf in it:
            ids, ns, zs, rs = [], [], [], []
            for did, b in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(b) if b is not None else b""
                z = len(zlib.compress(b, level))
                ids.append(did)
                ns.append(len(b))
                zs.append(z)
                rs.append(round(z / len(b), 6) if len(b) else 1.0)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_bytes": pd.Series(ns, dtype="int64"),
                    "z_bytes": pd.Series(zs, dtype="int64"),
                    "ratio": pd.Series(rs, dtype="float64"),
                }
            )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_bytes", LongType()),
            StructField("z_bytes", LongType()),
            StructField("ratio", DoubleType()),
        ]
    )
    return pruned.mapInPandas(batches, schema)


def perceptual_ahash(media: DataFrame, cells: int = 64) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over an opaque
    payload: the byte stream is split into `cells` equal-share
    buckets (bucket of byte i = i*cells//len — the 1-D analogue of
    the 8x8 downsample a real image aHash does after decode), each
    bucket's mean is compared to the global mean, and the resulting
    bit-vector is emitted as four 16-bit band integers (b0..b3) —
    the SimHash-style pigeonhole key layout: any pair within 16 bits
    of Hamming distance must collide on at least one band, so
    near-duplicate detection is a band equi-join, never a pairwise
    scan.  The mean comparison is cross-multiplied
    (cell_sum * len >= total * cell_count) so every operand is an
    exact integer — no float means anywhere.

    Scale shape: column-prune to (id, payload) before mapInPandas,
    Arrow-batched numpy bincount per payload, 5 scalars out — the
    payload dies inside the task; dedup joins run on the tiny band
    table."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    pruned = media.select("doc_id", "payload")

    def batches(it):
        for pdf in it:
            ids, bs = [], [[], [], [], []]
            ls = []
            for did, b in zip(pdf["doc_id"], pdf["payload"]):
                a = np.frombuffer(bytes(b), dtype=np.uint8)
                n = len(a)
                if n < cells:
                    continue
                idx = (np.arange(n, dtype=np.int64) * cells) // n
                sums = np.bincount(idx, weights=a, minlength=cells).astype(np.int64)
                cnts = np.bincount(idx, minlength=cells).astype(np.int64)
                total = int(a.sum(dtype=np.int64))
                bits = (sums * n >= total * cnts).astype(np.int64)
                ids.append(did)
                ls.append(n)
                for band in range(4):
                    seg = bits[band * 16 : (band + 1) * 16]
                    bs[band].append(int((seg << np.arange(16)).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_bytes": pd.Series(ls, dtype="int64"),
                    "b0": pd.Series(bs[0], dtype="int64"),
                    "b1": pd.Series(bs[1], dtype="int64"),
                    "b2": pd.Series(bs[2], dtype="int64"),
                    "b3": pd.Series(bs[3], dtype="int64"),
                }
            )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_bytes", LongType()),
            StructField("b0", LongType()),
            StructField("b1", LongType()),
            StructField("b2", LongType()),
            StructField("b3", LongType()),
        ]
    )
    return pruned.mapInPandas(batches, schema)
