"""Histogram fact-table source.

The reference selects input by *constructing HDFS file names* from
hour-rounded unix timestamps and existence-checking each over the
py4j gateway (hha.py:278-313: path calc 293-297, JVM fs 299). That is
hand-rolled partition pruning. Here the data lives in a standard
partitioned layout

    <root>/date=YYYY-MM-DD/hour=HH/*.parquet

and the same selection is a WHERE clause: Catalyst's partition
pruning turns the `timestamp` window into directory pruning, no
driver-side file probing, and the scan parallelizes over whatever
files remain.

For parity testing against the reference's naming scheme,
`write_hourly` can also emit `level_<unixhour>` flat files
(hha.py:293-297 naming); `read_hour_files` reads those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hha_spark.schemas import HISTOGRAM_SCHEMA

SECONDS_PER_HOUR = 3600

# NB: StructType.add mutates in place — build the partitioned-layout
# schema as a fresh object, never via HISTOGRAM_SCHEMA.add(...)
_PARTITIONED_SCHEMA = T.StructType(
    list(HISTOGRAM_SCHEMA.fields)
    + [
        T.StructField("date", T.StringType(), True),
        T.StructField("hour", T.IntegerType(), True),
    ]
)


def with_partition_cols(df: DataFrame) -> DataFrame:
    """Derive date=/hour= partition columns from the unix-seconds
    timestamp (UTC)."""
    ts = F.timestamp_seconds(F.col("timestamp"))
    return df.withColumn("date", F.date_format(ts, "yyyy-MM-dd")).withColumn(
        "hour", F.hour(ts)
    )


def write_partitioned(df: DataFrame, root: str, mode: str = "append") -> None:
    """Append into the date=/hour= layout, one file per hour partition
    per batch: without the repartition every upstream task writes its
    own file into every hour it touches (tasks x hours small files —
    120 on the gate fixture, an fsync storm that dominated the
    streaming gate's micro-batch cost and at scale degrades every
    downstream listing). One keyed shuffle per batch buys
    file-per-partition-per-batch, the standard dynamic-partition
    insert shape."""
    (
        with_partition_cols(df)
        .repartition("date", "hour")
        .write.mode(mode)
        .partitionBy("date", "hour")
        .parquet(root)
    )


def read_window(
    spark: SparkSession,
    root: str,
    *,
    lower: int | None = None,
    upper: int | None = None,
) -> DataFrame:
    """Read the partitioned layout, pruned to the hours of the open
    window (lower, upper).

    The partition predicate keeps exactly the hours that hold some
    integer timestamp of the window: the hours of `lower + 1` through
    `upper - 1`. It runs on the driver, while the files are listed, so
    it never reaches generated code. The rows of a kept hour are not
    cut to the window: the detector cuts them with bounds computed
    from its one-row clock (operators/spike.py::detect_spikes), where
    bounds written here as literals would change the generated code
    of the scan every cycle.
    """
    conds = []
    if lower is not None:
        hour_floor = ((lower + 1) // SECONDS_PER_HOUR) * SECONDS_PER_HOUR
        conds.append(_hour_bound(">", hour_floor))
    if upper is not None:
        hour_ceil = ((upper - 1) // SECONDS_PER_HOUR) * SECONDS_PER_HOUR
        conds.append(_hour_bound("<", hour_ceil))
    df = spark.read.schema(_PARTITIONED_SCHEMA).parquet(root)
    if conds:
        # one SQL predicate is one py4j call, where the equivalent
        # Column tree costs ~30 (0.06 s of a detector cycle)
        df = df.where(" AND ".join(conds))
    return df.drop("date", "hour")


def _hour_bound(op: str, hour_ts: int) -> str:
    """Partitions on the `op` side of, or in, the hour starting at
    unix second `hour_ts` — named in the session time zone, as
    `with_partition_cols` names them."""
    t = f"timestamp_seconds({int(hour_ts)})"
    d = f"date_format({t}, 'yyyy-MM-dd')"
    return f"(date {op} {d} OR (date = {d} AND hour {op}= hour({t})))"


def write_hourly(df: DataFrame, root: str, prefix: str = "level_") -> None:
    """Reference-naming emitter: one flat file set per hour,
    `<root>/<prefix><unixhour>` (hha.py:293-297)."""
    hours = [
        r.h
        for r in df.select(
            ((F.col("timestamp") / SECONDS_PER_HOUR).cast("long") * SECONDS_PER_HOUR)
            .alias("h")
        )
        .distinct()
        .collect()
    ]
    for h in hours:
        part = df.where(
            (F.col("timestamp") >= h) & (F.col("timestamp") < h + SECONDS_PER_HOUR)
        )
        part.write.mode("overwrite").parquet(f"{root}/{prefix}{h}")


def read_hour_files(
    spark: SparkSession, root: str, hours: list[int], prefix: str = "level_"
) -> DataFrame | None:
    """Read specific reference-named hour files; missing hours are
    skipped (the reference existence-checks each, hha.py:299).
    Returns None when nothing exists (the reference returns False,
    hha.py:311 — and then crashes on its second call site; we don't)."""
    from hha_spark.sources import fs

    # existence probe through the Hadoop FileSystem — the reference's
    # own mechanism (hha.py:271-274,299) — so HDFS/object-store roots
    # behave like local disk; the partitioned layout (read_window)
    # needs no probing at all
    paths = [f"{root}/{prefix}{h}" for h in hours if fs.exists(spark, f"{root}/{prefix}{h}")]
    if not paths:
        return None
    return spark.read.schema(HISTOGRAM_SCHEMA).parquet(*paths)
