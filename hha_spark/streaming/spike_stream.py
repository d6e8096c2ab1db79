"""Structured Streaming spike detection (the reference's actual
deployment shape, done idiomatically).

The reference hand-rolls micro-batching: an infinite driver loop
recomputes wall-clock window bounds and re-runs the whole batch query
every `sleepInterval` seconds (hha.py:315-327), with alert dedup in a
driver dict that dies on restart (hha.py:234-244). Here Structured
Streaming owns scheduling, file discovery, and exactly-once progress
(checkpointed file-source offsets), and each micro-batch runs the
full S1-S8 batch operators incrementally:

    file discovery   -> readStream file source over the histogram
                        root (new files picked up exactly once)
    cur/prev windows -> computed over a RETENTION-BOUNDED state table
                        of recent samples, partitioned date=/hour= so
                        the read prunes to ~2 relevant hours no matter
                        how long the stream has run
    state eviction   -> expired hour partitions are dropped whole
                        (a filesystem unlink, not a rewrite)
    GlobalRowList    -> the persisted alerts table + anti-join
                        (sinks/alerts.py), restart-safe
    /24 rollup       -> included — foreachBatch reuses the detector's
                        cycle body (detector.detect_and_append), so
                        streaming = batch semantics by construction
                        (S1-S8, not a /32-only subset)

Why foreachBatch instead of applyInPandasWithState: two reasons.
Architecturally, the reference's prev-window is unbounded-below and
overlaps cur arbitrarily, and the /24 branch needs a SECOND stateful
stage (avg-of-avg over per-key aggregates) — stateful pandas stages
can't be chained in one query, so that route covers only part of the
semantics. Practically, this environment's Spark build crashes
Python workers inside applyInPandasWithState (and
transformWithStateInPandas needs protobuf, absent here) — verified
with a minimal repro. The foreachBatch design keeps every operator
JVM-side and whole-stage-codegen'd.

Scale: per batch, work is bounded by (new files) + (retention-window
scan, pruned to ~2 hours of partitions) + post-aggregate joins whose
cardinality is the distinct-key count. The samples state table is
written partitioned, so eviction cost is O(1) per expired hour.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hha_spark.config import DetectorParams
from hha_spark.detector import detect_and_append
from hha_spark.schemas import HISTOGRAM_SCHEMA
from hha_spark.sources.histograms import (
    SECONDS_PER_HOUR,
    read_window,
    write_partitioned,
)

# the reference's prev window is physically bounded by its two hourly
# input files (hha.py:147,293-297)
RETENTION_SEC = 2 * SECONDS_PER_HOUR


def evict_expired_hours(
    samples_root: str, *, now: int, retention_sec: int, spark=None
) -> int:
    """Drop whole expired hour partitions from the state table.

    Partition dirs look like <root>/date=YYYY-MM-DD/hour=H; any hour
    whose END is older than the retention horizon can't contribute to
    either window, so the directory is unlinked. Listing and deletion
    go through the Hadoop FileSystem when a session is supplied
    (HDFS/object-store roots; the reference's own file mechanism,
    hha.py:271-274) and fall back to the local FS otherwise.
    Returns #dropped.
    """
    from datetime import datetime, timezone

    from hha_spark.sources import fs

    horizon = now - retention_sec
    dropped = 0
    for date_dir in fs.listdir(spark, samples_root):
        if not date_dir.startswith("date="):
            continue
        date_str = date_dir.split("=", 1)[1]
        for hour_dir in fs.listdir(spark, f"{samples_root}/{date_dir}"):
            if not hour_dir.startswith("hour="):
                continue
            hour = int(hour_dir.split("=", 1)[1])
            start = int(
                datetime.strptime(date_str, "%Y-%m-%d")
                .replace(tzinfo=timezone.utc)
                .timestamp()
            ) + hour * SECONDS_PER_HOUR
            if start + SECONDS_PER_HOUR < horizon:
                fs.delete(spark, f"{samples_root}/{date_dir}/{hour_dir}")
                dropped += 1
    return dropped


def make_batch_processor(
    spark: SparkSession,
    *,
    samples_root: str,
    alerts_path: str,
    params: DetectorParams,
    read_zones: Callable[[], DataFrame | None] | None = None,
    now_fn: Callable[[], float] = time.time,
    retention_sec: int = RETENTION_SEC,
    on_rules: Callable[[list[dict]], None] | None = None,
):
    """Per-micro-batch body: merge new samples into the state table,
    run the full batch detector over the retention window, sink.

    `read_zones` is called once per micro-batch, so an edited
    watchlist gates the next batch (the batch loop re-reads it per
    cycle the same way)."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        now = int(now_fn())
        # 1. merge the newly-arrived rows into the partitioned state
        #    table (idempotent enough for at-least-once file delivery:
        #    re-appended rows shift averages, not alert existence, and
        #    checkpointing makes redelivery exceptional)
        write_partitioned(batch_df, samples_root)
        evict_expired_hours(
            samples_root, now=now, retention_sec=retention_sec, spark=spark
        )

        # 2. the detector's cycle body over the bounded window (pruned
        #    scan): full S1-S8, TTL dedup, collect, append, release
        hist = read_window(spark, samples_root, lower=now - retention_sec)
        rules = detect_and_append(
            spark, hist, alerts_path=alerts_path, params=params, now=now,
            zones=read_zones() if read_zones is not None else None,
        )
        if on_rules is not None:
            on_rules(rules)

    return process


def run_streaming_detector(
    spark: SparkSession,
    *,
    data_root: str,
    samples_root: str,
    alerts_path: str,
    checkpoint: str,
    params: DetectorParams | None = None,
    read_zones: Callable[[], DataFrame | None] | None = None,
    trigger_sec: int | None = None,
    now_fn: Callable[[], float] = time.time,
    retention_sec: int = RETENTION_SEC,
    on_rules: Callable[[list[dict]], None] | None = None,
    available_now: bool = False,
):
    """File source -> foreachBatch(full detector) -> alerts table.

    `trigger_sec` plays the reference's sleepInterval (hha.conf:26);
    `now_fn` is injectable so tests replay deterministically.
    `available_now=True` processes everything currently in the source
    then stops — one bounded run of the real machinery (the
    driver-gate replay mode; mutually exclusive with `trigger_sec`).
    Returns the StreamingQuery.
    """
    p = params or DetectorParams()
    stream = (
        spark.readStream.schema(HISTOGRAM_SCHEMA)
        .option("maxFilesPerTrigger", "256")
        .parquet(data_root)
    )
    writer = stream.writeStream.foreachBatch(
        make_batch_processor(
            spark,
            samples_root=samples_root,
            alerts_path=alerts_path,
            params=p,
            read_zones=read_zones,
            now_fn=now_fn,
            retention_sec=retention_sec,
            on_rules=on_rules,
        )
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_sec:
        writer = writer.trigger(processingTime=f"{trigger_sec} seconds")
    return writer.start()
