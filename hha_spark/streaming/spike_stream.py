"""Structured Streaming spike detection (the reference's actual
deployment shape, done idiomatically).

The reference hand-rolls micro-batching: an infinite driver loop
recomputes wall-clock window bounds and re-runs the whole batch query
every `sleepInterval` seconds (hha.py:315-327), with alert dedup in a
driver dict that dies on restart (hha.py:234-244). Here Structured
Streaming owns scheduling, file discovery, and exactly-once progress
(checkpointed file-source offsets), and each micro-batch appends its
rows to a samples table and then runs the batch cycle over it:

    file discovery   -> readStream file source over the histogram
                        root (new files picked up exactly once)
    cycle            -> detector.run_cycle(data_root=samples table):
                        the same function, window (`cycle_window`,
                        `params.history_hours`), S1-S8 incl. the /24
                        rollup, TTL dedup and alert append as batch
    state eviction   -> the samples table's hours before that window
                        are dropped whole (a filesystem unlink, not a
                        rewrite)
    GlobalRowList    -> the persisted alerts table + anti-join
                        (sinks/alerts.py), restart-safe

So a micro-batch's rules equal a batch `run_cycle`'s over the same
rows and `now` (tests/test_streaming.py checks this property).

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

Scale: per batch, work is bounded by (new files) + (the window's
scan, pruned to `history_hours` of partitions) + post-aggregate joins
whose cardinality is the distinct-key count. The samples state table
is written partitioned, so eviction cost is O(1) per expired hour.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hha_spark.config import DetectorParams
from hha_spark.detector import cycle_window, run_cycle
from hha_spark.schemas import HISTOGRAM_SCHEMA
from hha_spark.sources.histograms import SECONDS_PER_HOUR, write_partitioned


def evict_expired_hours(
    samples_root: str, *, now: int, params: DetectorParams, spark=None
) -> int:
    """Drop whole expired hour partitions from the state table.

    Partition dirs look like <root>/date=YYYY-MM-DD/hour=H; an hour
    whose every second is at or before `cycle_window(now, params)`'s
    lower bound can't contribute to a cycle at `now` or later, so the
    directory is unlinked. Listing and deletion go through the Hadoop
    FileSystem when a session is supplied (HDFS/object-store roots;
    the reference's own file mechanism, hha.py:271-274) and fall back
    to the local FS otherwise.
    Returns #dropped.
    """
    from datetime import datetime, timezone

    from hha_spark.sources import fs

    lower, _ = cycle_window(now, params)
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
            if start + SECONDS_PER_HOUR - 1 <= lower:
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
    on_rules: Callable[[list[dict]], None] | None = None,
):
    """Per-micro-batch body: merge new samples into the state table,
    evict the hours before the cycle window, run `run_cycle` over it.

    `read_zones` is called once per micro-batch, so an edited
    watchlist gates the next batch (the batch loop re-reads it per
    cycle the same way)."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        now = int(now_fn())
        # an epoch replayed after a crash before its checkpoint commit
        # appends its rows a second time; nothing here deduplicates them
        write_partitioned(batch_df, samples_root)
        evict_expired_hours(samples_root, now=now, params=params, spark=spark)
        rules = run_cycle(
            spark, data_root=samples_root, alerts_path=alerts_path,
            params=params, now=now,
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
    on_rules: Callable[[list[dict]], None] | None = None,
):
    """File source -> foreachBatch(full detector) -> alerts table.

    `trigger_sec` plays the reference's sleepInterval (hha.conf:26);
    `now_fn` is injectable so tests replay deterministically. A
    bounded replay of the same processor goes through
    `streaming.replay_files` (queries/streaming_gate.py).
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
            on_rules=on_rules,
        )
    ).option("checkpointLocation", checkpoint)
    if trigger_sec:
        writer = writer.trigger(processingTime=f"{trigger_sec} seconds")
    return writer.start()
