"""Alerts sink: the TTL dedup state, as a Parquet table.

The reference remembers raised alerts in an in-memory dict whose
entries expire after LimitDetectTimeSec and which dies with the
process (hha.py:223-249). Here that dict is a table: it survives
restarts, and the TTL dedup becomes a broadcast anti-join against
`recent_alerts` that cuts `detected_at > now - ttl_sec`. It is the
dedup state, not a long-term alert log —
the rules a cycle emits are its output (`collect_rules`), and files
expire with the TTL like the dict's entries.

`collect_rules` is the cycle's one action; `append_alerts` writes the
rules it returned as one parquet file serialized on the driver and
placed through the Hadoop FileSystem, so the append runs no Spark job
at all: no re-execution of the detection plan, no tasks, no commit
protocol. Each file is named by its cycle's `now`,

    part-<detected_at>-<uuid hex>.parquet   (published)
    _tmp-<detected_at>-<uuid hex>           (in flight; hidden from readers)

and after publishing, `append_alerts` unlinks every stamped name with
`detected_at <= now - ttl_sec`. Such a file can never pass the
anti-join again PROVIDED `now` never decreases from one cycle to the
next — the detector's cycles run serially at a non-decreasing clock
(the reference's loop, hha.py:315-327). So the table holds at most
TTL/interval + 1 stamped files. Unstamped names (`part-<uuid>.parquet`
from before stamping, or any other writer's files) are read and
never deleted, so an upgrade drops no live alert.
"""

from __future__ import annotations

import ipaddress
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from hha_spark.functions.local import arrow_rows_table
from hha_spark.schemas import ALERTS_SCHEMA
from hha_spark.sources import fs


# published and in-flight names `append_alerts` writes; Spark's own
# part-00000-<uuid>-c000.snappy.parquet never matches
_STAMPED = re.compile(r"(?:part|_tmp)-(\d+)-[0-9a-f]{32}(?:\.parquet)?")


def append_alerts(
    spark: SparkSession,
    rules: list[dict],
    table_path: str,
    *,
    detected_at: int,
    ttl_sec: int,
) -> None:
    """Stamp and append a cycle's collected rules (`collect_rules`
    output) as one `part-<detected_at>-<uuid>.parquet` file under
    `table_path`, then unlink the stamped files the TTL has expired.

    The rows are driver-local and few (one cycle's alerts), so pyarrow
    serializes them on the driver under ALERTS_SCHEMA (INT32, INT32,
    INT64, INT64, string, INT64; a null in a NOT NULL field raises
    before anything is written). The bytes go to a hidden
    `_tmp-<detected_at>-<uuid>` name, which Spark's readers skip, and a
    Hadoop-FS rename publishes the file whole. A quiet cycle writes
    nothing and lists nothing: an empty file would still be listed by
    every later `recent_alerts`, and without a new file the table has
    not grown."""
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
    name = f"{detected_at}-{uuid.uuid4().hex}"
    tmp = f"{table_path}/_tmp-{name}"
    fs.write_bytes(spark, tmp, buf.getvalue().to_pybytes())
    if not fs.rename(spark, tmp, f"{table_path}/part-{name}.parquet"):
        raise OSError(f"append_alerts: could not publish {tmp}")
    for child in fs.listdir(spark, table_path):
        m = _STAMPED.fullmatch(child)
        if m and int(m[1]) <= detected_at - ttl_sec:
            fs.delete(spark, f"{table_path}/{child}")


def recent_alerts(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The alerts table — the dedup anti-join's right side.

    It holds little more than the alerts raised within the TTL, since
    `append_alerts` unlinks the files past it. The exact cut
    (`detected_at > now - ttl_sec`) is the anti-join's, made once on
    the detector's one-row clock (operators/spike.py::detect_spikes):
    a cut written here with a literal `now` would change the generated
    code of the read every cycle.

    Returns None when the table doesn't exist yet (first cycle).
    """
    try:
        return spark.read.schema(ALERTS_SCHEMA).parquet(table_path)
    except Exception:  # noqa: BLE001 — path-not-found on first run
        return None


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
