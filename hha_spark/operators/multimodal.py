"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as BinaryType columns with a
metadata struct; per-batch processing (decode, resize, frame-sample,
feature-extract) runs through Arrow-batched `mapInPandas`, which is
the right shape at 100 TB: each task streams pandas batches, no
row-at-a-time pickling, and the schema contract is explicit.

The `fake_*` operators are deterministic stand-ins for media
decoders, so the Spark-side plumbing (schema, batching, partitioning)
is testable without an imaging library. `blob_stats` is real (byte
length + md5) and oracle-checked.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_STATS_SCHEMA = "doc_id bigint, n_bytes bigint, blob_md5 string"
FAKE_META_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, format string"
)


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


RESIZED_SCHEMA = "doc_id bigint, width int, height int, thumb binary"
FRAMES_SCHEMA = "doc_id bigint, frame_idx int, frame_md5 string"


def fake_resize(
    df_with_blob: DataFrame, *, max_px: int = 256, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic fake 'resize': emits a truncated payload as the
    thumbnail plus clamped dimensions — the exact schema/batch
    contract a real resizer would use."""
    import hashlib

    import pandas as pd

    src = df_with_blob.select(F.col(id_col).alias("doc_id"), "blob")

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            digests = pdf["blob"].map(lambda b: hashlib.md5(bytes(b)).digest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": digests.map(
                        lambda d: min(max_px, 64 + d[0] % 192)
                    ).astype("int32"),
                    "height": digests.map(
                        lambda d: min(max_px, 64 + d[1] % 192)
                    ).astype("int32"),
                    "thumb": pdf["blob"].map(lambda b: bytes(b)[:32]),
                }
            )

    return src.mapInPandas(fn, RESIZED_SCHEMA)


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


def fake_decode_meta(df_with_blob: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake 'decode': metadata derived from payload bytes.

    Exercises the exact mapInPandas contract a real decoder would use
    (same schema, same batch shape) with reproducible outputs.
    """
    import hashlib

    import pandas as pd

    src = df_with_blob.select(F.col(id_col).alias("doc_id"), "blob")

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            digests = pdf["blob"].map(
                lambda b: hashlib.md5(bytes(b)).digest()
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": digests.map(lambda d: 64 + d[0] % 192).astype("int32"),
                    "height": digests.map(lambda d: 64 + d[1] % 192).astype("int32"),
                    "n_frames": digests.map(lambda d: 1 + d[2] % 8).astype("int32"),
                    "format": digests.map(
                        lambda d: ["png", "jpeg", "webp"][d[3] % 3]
                    ),
                }
            )

    return src.mapInPandas(fn, FAKE_META_SCHEMA)
