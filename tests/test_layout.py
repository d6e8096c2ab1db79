"""Layout keys and partition pruning: the Morton key of
sinks/layout.py interleaves bits exactly, and a day-partitioned fact
joined to a filtered dim prunes partitions at run time."""

from __future__ import annotations

import pyspark.sql.functions as F

from hha_spark.sinks.layout import zorder_key
from hha_spark.sources.tables import events_ts_us, load_table

SF = "/root/testdata/sf0.01"


def test_zorder_key_interleaves_bits(spark):
    rows = spark.range(1).select(
        zorder_key(F.lit(0b1111), F.lit(0)).alias("a_only"),
        zorder_key(F.lit(0), F.lit(0b1111)).alias("b_only"),
        zorder_key(F.lit(0xFFFF), F.lit(0xFFFF)).alias("both"),
    ).first()
    assert rows.a_only == 0b01010101
    assert rows.b_only == 0b10101010
    assert rows.both == 0xFFFFFFFF


def test_dynamic_partition_pruning_reaches_partitioned_fact(
    spark, tmp_path
):
    """A day-partitioned fact joined to a filtered dim must carry a
    dynamicpruning PartitionFilter — the runtime analogue of the
    reference's hour-file selection (hha.py:293-301): at 100 TB the
    fact scan reads only the partitions the dim's surviving keys name,
    decided at execution time, not plan time."""
    raw = load_table(spark, SF, "events")
    ev = raw.select(
        "event_id", "user_id", "value",
        (events_ts_us(raw) / 86_400_000_000).cast("long").alias("day"),
    )
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    ev.write.partitionBy("day").mode("overwrite").parquet(fact_path)
    ev.groupBy("day").agg(F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).where("n > 300")
    j = fact.join(dim, on="day")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan
    # and the join result is correct: only the selective days survive
    days = {r.day for r in dim.collect()}
    got = {r.day for r in j.select("day").distinct().collect()}
    assert got == days and len(days) > 0
