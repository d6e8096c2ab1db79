"""Readers for the driver-provided parquet tables.

Replaces the reference's hand-rolled HDFS path construction +
existence probing (hha.py:278-313) with plain `spark.read.parquet`;
time-based file selection becomes Catalyst partition pruning when the
data is laid out as date=/hour= directories (see sources/histograms.py).

Event-time robustness: the reference reads whatever the parquet footer
says (hha.py:304) — so do we. The fixture's `ts` column has shipped as
both TIMESTAMP(NANOS) (readable only as BIGINT nanoseconds via
`spark.sql.legacy.parquet.nanosAsLong`, which session.py sets in the
session builder and load_table sets on any other session that meets
such a file) and TIMESTAMP(MICROS,
isAdjustedToUTC=false) (arrives as TIMESTAMP_NTZ). `events_ts_us()`
inspects the dataframe's actual dtype and yields exact integer
microseconds-since-epoch either way; all downstream event-time math
uses that one canonical representation (the session TZ is pinned UTC
in session.py, so the NTZ -> timestamp cast is an identity on the
stored micros).
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

NS_PER_US = 1_000
US_PER_DAY = 86_400 * 1_000_000

# session -> {(sf_dir, table, fanout): DataFrame} — reader-handle memo
# for the static fixture tables (see load_table); weak keys so a
# stopped session's entries die with it
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _dir_fingerprint(path: str):
    """Cheap local-path change token for the reader memo:
    (inode, mtime_ns, size) of a single-file table, plus entry count
    when the table is a directory of part files. Rewriting the
    fixture (datagen rerun) changes it — the inode guards even the
    coarse-mtime case (same-second rewrite, same size): a recreated
    file/directory gets a new inode. os errors (non-local URI,
    missing path — the read itself will surface that) degrade to a
    constant so memoization still works."""
    try:
        import os

        st = os.stat(path)
        n = len(os.listdir(path)) if os.path.isdir(path) else -1
        return (st.st_ino, st.st_mtime_ns, st.st_size, n)
    except OSError:
        return None


def _nanos_footer(path: str) -> bool:
    """Whether the parquet table at `path` (one file, or a directory
    of part files) stores a TIMESTAMP(NANOS) column, read from one
    footer. A path that is not local (a remote URI) counts as NANOS:
    there the footer costs a round trip, and the conf is harmless
    for MICROS files."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            return False
        path = os.path.join(path, parts[0])
    elif not os.path.isfile(path):
        return True
    sc = pq.read_metadata(path).schema
    return any(
        "timeUnit=nanoseconds" in str(sc.column(i).logical_type)
        for i in range(len(sc))
    )


def events_ts_us(df: DataFrame, col: str = "ts") -> Column:
    """`col` as exact integer microseconds-since-epoch, robust to how
    the parquet fixture encodes it.

    - BIGINT: nanoseconds (TIMESTAMP(NANOS) read via nanosAsLong) —
      integer DIV keeps the microsecond value exact (a double
      round-trip would not).
    - timestamp_ntz: wall-clock micros taken directly with
      timestampdiff against the NTZ epoch — no cast through
      session-TZ-dependent TIMESTAMP, so the result is identical on
      any host/session timezone (matches DuckDB's epoch_us, which is
      TZ-independent).
    - timestamp: already an instant; unix_micros is exact.
    """
    dtype = dict(df.dtypes).get(col, "")
    if dtype in ("bigint", "long"):
        return F.expr(f"{col} DIV 1000")
    if dtype == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})"
        )
    return F.unix_micros(F.col(col).cast("timestamp"))


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, fanout: bool = False
) -> DataFrame:
    """Read one fixture table.

    `fanout=True` round-robin-repartitions to the session parallelism —
    an opt-in escape hatch for the local single-row-group fixture files
    (Spark cannot split inside a row group, so a narrow pipeline over
    one such file runs in ONE task). It is OFF by default: benchmarks
    showed the blanket shuffle of wide payloads (doc text, blobs,
    embedding arrays) cost far more than the lost scan parallelism
    gains, and it re-runs on every re-read of an unpersisted frame. A
    production table has thousands of splits and never needs it.
    Reads of the STATIC fixture tables (TABLE_NAMES) are memoized per
    SparkSession: every call re-paid ~80 ms of file listing + footer
    schema resolution, and a bench sweep makes ~300 such calls —
    ~15% of its wall time re-deriving identical reader handles. This
    is the register-tables-once catalog shape a real deployment gets
    from its metastore; DataFrames are immutable, so handing back the
    same object is semantically invisible. Non-fixture names (paths
    tests or pipelines may still be writing) bypass the memo, which
    also preserves try_load_table's read-retry contract for them.
    A parquet reader handle snapshots its file listing at creation,
    so each memo entry carries a cheap path fingerprint
    (inode + mtime + size + entry count) VALIDATED on every hit:
    regenerating a fixture in-process (e.g. a datagen rerun) replaces
    the cached handle instead of returning a plan over deleted part
    files — and replacement (fingerprint in the value, not the key)
    keeps at most one live entry per table, so a regeneration loop
    cannot accumulate dead handles. Non-local paths (no os.stat) get
    a constant fingerprint — the immutable-fixture assumption then
    applies as before.
    """
    memo_key = (sf_dir, name, fanout) if name in TABLE_NAMES else None
    fp = None
    if memo_key is not None:
        fp = _dir_fingerprint(f"{sf_dir}/{name}.parquet")
        per_session = _TABLE_MEMO.setdefault(spark, {})
        cached = per_session.get(memo_key)
        if cached is not None and cached[0] == fp:
            return cached[1]
    if name == "events" and _nanos_footer(f"{sf_dir}/{name}.parquet"):
        # [PARQUET_TYPE_ILLEGAL] otherwise. get_spark and gate
        # sessions already set it; a session built elsewhere (the
        # driver's) gets it here, and only when the file needs it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if fanout:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    if memo_key is not None:
        per_session[memo_key] = (fp, df)
    return df


def try_load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    retries: int = 3,
    retry_sleep_s: float = 5.0,
    fanout: bool = False,
) -> DataFrame | None:
    """Read-failure-tolerant variant of `load_table`.

    The reference's table read logs the failure, sleeps, and retries
    instead of crashing the long-running driver (hha.py:305-311);
    this is the same contract for a scheduled pipeline: transient
    storage errors (eventual consistency, a writer mid-commit) retry
    with a pause, and a persistently unreadable table yields None so
    the caller can skip the cycle rather than die.

    The parquet read is lazy, so each attempt forces schema resolution
    (`df.schema`) — the step that actually touches the footer.
    """
    import time

    last_err: Exception | None = None
    for attempt in range(retries + 1):
        try:
            df = load_table(spark, sf_dir, name, fanout=fanout)
            df.schema  # force footer read; plain open is lazy
            return df
        except Exception as e:  # noqa: BLE001 — any read error retries
            last_err = e
            if attempt < retries:
                time.sleep(retry_sleep_s)
    import logging

    logging.getLogger(__name__).warning(
        "table %s/%s unreadable after %d attempts: %s",
        sf_dir, name, retries + 1, last_err,
    )
    return None


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Temp views named like the DuckDB oracle's, for the SQL surface."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
