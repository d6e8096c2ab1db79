"""Alerts sink: a persisted Parquet table.

The reference's sink is `collect()` + a driver loop that prints/logs
each rule and remembers raised alerts in an in-memory dict that dies
with the process (hha.py:223-249). Writing alerts to a table instead
(a) survives restarts, (b) turns the TTL dedup into a broadcast
anti-join against `recent_alerts`, and (c) gives downstream rule
generators a queryable log. `collect_rules` is the cycle's one
action; `append_alerts` writes the rules it returned as one parquet
file serialized on the driver and placed through the Hadoop
FileSystem, so the append runs no Spark job at all: no re-execution
of the detection plan, no tasks, no commit protocol.
"""

from __future__ import annotations

import ipaddress
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hha_spark.functions.local import arrow_rows_table
from hha_spark.schemas import ALERTS_SCHEMA
from hha_spark.sources import fs


def append_alerts(
    spark: SparkSession, rules: list[dict], table_path: str, *, detected_at: int
) -> None:
    """Stamp and append a cycle's collected rules (`collect_rules`
    output) as one `part-<uuid>.parquet` file under `table_path`.

    The rows are driver-local and few (one cycle's alerts), so pyarrow
    serializes them on the driver under ALERTS_SCHEMA (INT32, INT32,
    INT64, INT64, string, INT64; a null in a NOT NULL field raises
    before anything is written). The bytes go to a hidden `_tmp-<uuid>`
    name, which Spark's readers skip, and a Hadoop-FS rename publishes
    the file whole. A quiet cycle writes nothing: an empty file would
    still be listed by every later `recent_alerts`."""
    if not rules:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (
            r["num_protocol"], r["type_proto"], r["sum_val"],
            int(ipaddress.IPv4Address(r["dst_ip"])), r["scope"], detected_at,
        )
        for r in rules
    ]
    buf = pa.BufferOutputStream()
    pq.write_table(arrow_rows_table(rows, ALERTS_SCHEMA), buf)
    name = uuid.uuid4().hex
    tmp = f"{table_path}/_tmp-{name}"
    fs.write_bytes(spark, tmp, buf.getvalue().to_pybytes())
    if not fs.rename(spark, tmp, f"{table_path}/part-{name}.parquet"):
        raise OSError(f"append_alerts: could not publish {tmp}")


def recent_alerts(
    spark: SparkSession, table_path: str, *, now: int, ttl_sec: int
) -> DataFrame | None:
    """Alerts raised within the TTL — the dedup anti-join's right side.

    Returns None when the table doesn't exist yet (first cycle).
    """
    try:
        df = spark.read.schema(ALERTS_SCHEMA).parquet(table_path)
    except Exception:  # noqa: BLE001 — path-not-found on first run
        return None
    return df.where(F.col("detected_at") > F.lit(now - ttl_sec))


def compact_alerts(
    spark: SparkSession, table_path: str, *, now: int, keep_sec: int
) -> int:
    """Rewrite the alerts table keeping only the last `keep_sec`.

    The TTL anti-join only ever reads recent rows, but the append-only
    table grows forever; periodic compaction bounds it. Writes to a
    sibling tmp dir then swaps via two Hadoop-FS renames.

    Concurrency contract: the swap is NOT atomic — between the two
    renames the table path briefly does not exist, and a concurrent
    `recent_alerts` would see a missing table and run its cycle with
    TTL dedup disabled (duplicate alerts for that cycle). Run
    compaction from the same single-threaded scheduler as the
    detection cycles (the reference's loop is likewise serial,
    hha.py:315-327), between cycles. A crash between the renames
    leaves the data intact at `<table>__old`; the next compaction (or
    a manual rename) recovers it. Returns the retained row count.
    """
    try:
        df = spark.read.schema(ALERTS_SCHEMA).parquet(table_path)
    except Exception:  # noqa: BLE001 — nothing to compact yet
        return 0
    kept = df.where(F.col("detected_at") > F.lit(now - keep_sec))
    tmp = f"{table_path}__compact_tmp"
    kept.write.mode("overwrite").parquet(tmp)
    n = spark.read.schema(ALERTS_SCHEMA).parquet(tmp).count()
    old = f"{table_path}__old"
    fs.delete(spark, old)
    fs.rename(spark, table_path, old)
    fs.rename(spark, tmp, table_path)
    fs.delete(spark, old)
    return n


def collect_rules(alerts: DataFrame) -> list[dict]:
    """Driver-side rule materialization (the reference's observable
    output is a log line per alert, hha.py:240-241)."""
    out = []
    for row in alerts.collect():
        out.append(
            {
                "num_protocol": row.num_protocol,
                "type_proto": row.type_proto,
                "sum_val": row.sum_val,
                "dst_ip": str(ipaddress.IPv4Address(int(row.dst_ip))),
                "scope": row.scope,
            }
        )
    return out
