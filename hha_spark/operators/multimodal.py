"""Multimodal column plumbing: opaque binary payloads through mapInPandas.

Image/audio/video payloads are carried as BinaryType columns; per-batch
processing runs through Arrow-batched `mapInPandas`, which is the right
shape at 100 TB: each task streams pandas batches, no row-at-a-time
pickling, and the output schema is explicit.

`blob_stats` (byte length + md5, one row per payload) and
`fake_frame_sample` (a deterministic stand-in for a video frame
sampler, one row per sampled chunk) back the multimodal_blob_stats and
multimodal_frame_sample registry queries, both oracle-checked.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_STATS_SCHEMA = "doc_id bigint, n_bytes bigint, blob_md5 string"


def with_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pack a string column into a BinaryType payload column (UTF-8).

    Stand-in for reading real media bytes; everything downstream
    treats `blob` as opaque binary.
    """
    return df.withColumn("blob", F.encode(F.col(text_col), "UTF-8"))


def blob_stats(df_with_blob: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Byte length + md5 of each payload via Arrow-batched mapInPandas."""
    import hashlib

    import pandas as pd

    src = df_with_blob.select(F.col(id_col).alias("doc_id"), "blob")

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["blob"].map(len).astype("int64"),
                    "blob_md5": pdf["blob"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return src.mapInPandas(fn, BLOB_STATS_SCHEMA)


FRAMES_SCHEMA = "doc_id bigint, frame_idx int, frame_md5 string"


def fake_frame_sample(
    df_with_blob: DataFrame, *, every_n: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic fake video frame sampling: one output row per
    sampled 'frame' (payload chunk), the fan-out shape a real frame
    sampler produces (rows multiply, partitioning by doc is
    preserved)."""
    import hashlib

    import pandas as pd

    src = df_with_blob.select(F.col(id_col).alias("doc_id"), "blob")

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_md5": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                data = bytes(blob)
                n_frames = max(1, len(data) // 64)
                for i in range(0, n_frames, every_n):
                    chunk = data[i * 64 : (i + 1) * 64]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "frame_md5": pd.Series(out["frame_md5"], dtype="object"),
                }
            )

    return src.mapInPandas(fn, FRAMES_SCHEMA)

