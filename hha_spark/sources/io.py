"""Generic source/sink helpers beyond parquet.

The reference reads exactly one format (parquet over HDFS). A usable
engine needs the standard set; these wrappers pin explicit schemas
(never inferSchema in production paths) and centralize options.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, *, header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    id_from_name: bool = True,
) -> DataFrame:
    """Raw media ingest via the built-in `binaryFile` source: one row
    per file with (path, modificationTime, length, content BINARY).

    This is the front door of the multimodal pipeline
    (operators/multimodal.py): blobs arrive as opaque binary plus
    provenance, downstream decode/resize run per Arrow batch. The
    source is splittable across executors per FILE (content is one
    cell), so at 100 TB the unit of parallelism is file count — shard
    media into many objects, not one giant archive. `pathGlobFilter`
    prunes by extension server-side before any bytes are read.

    With id_from_name, a BIGINT doc_id is parsed from the file stem
    (e.g. .../123.bin -> 123) to join blobs to their metadata table.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if id_from_name:
        df = df.withColumn(
            "doc_id",
            F.regexp_extract(F.col("path"), r"([0-9]+)\.[^/.]+$", 1).cast("long"),
        )
    return df.select(
        "doc_id" if id_from_name else F.lit(None).cast("long").alias("doc_id"),
        F.col("path").alias("blob_path"),
        F.col("length").alias("n_bytes"),
        F.col("content").alias("blob"),
    )


def write_table(
    df: DataFrame, path: str, *, fmt: str = "parquet", mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)

