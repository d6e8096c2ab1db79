"""Correctness checks, run outside the timed region.

`DetectorOracle` is a DuckDB transcription of the detection cycle
(S1-S8, SURVEY.md §2.1) with its own TTL replay: it keeps its own
alert log instead of reading the table the cycles wrote, so an error in
the alerts sink shows as a mismatch on a later cycle. The SQL follows
the `ORACLES` of `hha_spark/queries/spike_events.py`, moved from the
events table back onto the histogram keys.

`registry_problems` compares a registry query with its `oracle_sql()`
on DuckDB through `tools/selfcheck.py`'s normalisation.
"""

from __future__ import annotations

import hashlib
import ipaddress
import os

import duckdb
import pandas as pd

from hha_spark.config import DetectorParams

_KEYS = "num_protocol, type_proto, dst_ip"
_NET = "dst_ip & 4294967040"  # /24 base address, functions/ip.py
_AVG = "CAST(SUM(CountPkt) // COUNT(*) AS BIGINT)"


def _cycle_sql(p: DetectorParams) -> str:
    """Rules of one cycle; parameters $now, $lower."""
    q = p.quotient_amplification
    return f"""
    WITH rows AS (
      SELECT * FROM hist WHERE "timestamp" > $lower AND "timestamp" < $now + 1),
    cur AS (
      SELECT {_KEYS}, {_AVG} AS sum_val FROM rows
      WHERE "timestamp" > $now - {p.cur_window_sec} GROUP BY ALL),
    prev AS (
      SELECT {_KEYS}, {_AVG} AS sum_val FROM rows
      WHERE "timestamp" < $now - {p.prev_window_sec} GROUP BY ALL),
    cmp AS (
      SELECT c.*, COALESCE(
               CASE WHEN pv.sum_val / NULLIF(c.sum_val, 0) > {q}
                     AND pv.sum_val > {p.limit_new_data}
                    THEN {p.limit_new_data} ELSE pv.sum_val END,
               {p.limit_new_data}) AS base
      FROM cur c LEFT JOIN prev pv USING (num_protocol, type_proto, dst_ip)),
    cur_net AS (
      SELECT num_protocol, type_proto, {_NET} AS dst_net,
             CAST(SUM(sum_val) // COUNT(*) AS BIGINT) AS sum_val
      FROM cur GROUP BY ALL),
    prev_net AS (
      SELECT num_protocol, type_proto, {_NET} AS dst_net,
             CAST(SUM(sum_val) // COUNT(*) AS BIGINT) AS sum_val
      FROM prev GROUP BY ALL),
    cmp_net AS (
      SELECT c.*, COALESCE(
               CASE WHEN pv.sum_val / NULLIF(c.sum_val, 0) > {q}
                    THEN {p.limit_new_data_net} ELSE pv.sum_val END,
               {p.limit_new_data_net}) AS base
      FROM cur_net c LEFT JOIN prev_net pv USING (num_protocol, type_proto, dst_net)),
    alerts AS (
      SELECT num_protocol, type_proto, base AS sum_val, dst_ip, 'ip' AS scope
      FROM cmp WHERE sum_val / NULLIF(base, 0) > {q}
      UNION ALL
      SELECT num_protocol, type_proto, base, dst_net, 'net'
      FROM cmp_net WHERE sum_val / NULLIF(base, 0) > {q})
    SELECT a.* FROM alerts a
    WHERE a.dst_ip IN (SELECT ip FROM zones)
      AND NOT EXISTS (
        SELECT 1 FROM log l
        WHERE l.detected_at > $now - {p.limit_detect_time_sec}
          AND l.num_protocol = a.num_protocol AND l.type_proto = a.type_proto
          AND l.dst_ip = a.dst_ip)
    """


class DetectorOracle:
    """Replays the cycles in order over the same files."""

    def __init__(self, data_root: str, zones: list[int], params: DetectorParams):
        self.p = params
        self.con = duckdb.connect()
        glob = os.path.join(data_root, "*", "*", "*.parquet")
        self.con.execute(
            "CREATE TABLE hist AS SELECT * EXCLUDE (date, hour) "
            f"FROM read_parquet('{glob}', hive_partitioning = 1)"
        )
        self.con.register("zones", pd.DataFrame({"ip": pd.Series(zones, dtype="int64")}))
        self.con.execute(
            "CREATE TABLE log (num_protocol INTEGER, type_proto INTEGER, "
            "sum_val BIGINT, dst_ip BIGINT, scope VARCHAR, detected_at BIGINT)"
        )
        self.sql = _cycle_sql(params)

    def rules(self, now: int) -> list[tuple]:
        hour_start = (now // 3600) * 3600
        lower = hour_start - (self.p.history_hours - 1) * 3600 - 1
        rows = self.con.execute(self.sql, {"now": now, "lower": lower}).fetchall()
        self.con.executemany(
            "INSERT INTO log VALUES (?, ?, ?, ?, ?, ?)", [(*r, now) for r in rows]
        )
        return sorted(
            (r[0], r[1], r[2], str(ipaddress.IPv4Address(r[3])), r[4]) for r in rows
        )


def rule_tuples(rules: list[dict]) -> list[tuple]:
    return sorted(
        (r["num_protocol"], r["type_proto"], r["sum_val"], r["dst_ip"], r["scope"])
        for r in rules
    )


def registry_connection(table_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS "
                f"SELECT * FROM read_parquet('{os.path.join(table_dir, f)}')"
            )
    return con


def oracle_result(con, oracle: str, cache_dir: str, key: str):
    """(DuckDB column types, result frame) of one oracle query.

    Results are cached under `cache_dir`, keyed by `key` (which must
    name the table data) and the SQL text: one oracle (the trained
    quality classifier's) takes ~20 s on DuckDB, longer than the rest
    of a run's checks together."""
    digest = hashlib.sha256(
        "\0".join((key, duckdb.__version__, oracle)).encode()
    ).hexdigest()[:32]
    path = os.path.join(cache_dir, f"{digest}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    rel = con.sql(oracle)
    out = (list(zip(rel.columns, [str(t) for t in rel.types])), rel.fetchdf())
    os.makedirs(cache_dir, exist_ok=True)
    pd.to_pickle(out, path + ".tmp")
    os.replace(path + ".tmp", path)
    return out


def registry_problems(duck_types, duck_pdf: pd.DataFrame, spark_pdf: pd.DataFrame) -> list[str]:
    """selfcheck's driver-replica comparison of one query result."""
    import selfcheck

    return selfcheck.strictness_problems(
        duck_types, spark_pdf, duck_pdf
    ) + selfcheck.compare("", spark_pdf, duck_pdf)
