"""Watermarked stream-stream interval join (click-to-purchase
attribution shape).

Joining two live streams is the one join topology the rest of the
engine doesn't cover: both sides are unbounded, so the join must hold
STATE for rows whose partner may still arrive, and a watermark plus a
time-bound join condition is what lets the state store evict — without
both, a stream-stream join grows without limit. With them, each side
buffers only `watermark + max_delay` worth of rows per key:

  left.ts  watermarked by W
  right.ts watermarked by W
  join on key AND right.ts in [left.ts, left.ts + max_delay]

which is exactly how Spark's symmetric hash join derives its state
eviction bound (the condition gives a closed time range for every
buffered row).

The builder works on batch frames too — same expression tree, the
watermark is a no-op in batch mode — so the batch≡stream equivalence
test drives the identical plan both ways.

Scale: state is partitioned by the join key; the shuffle is one
exchange per side. Skewed keys behave like any keyed stream state —
salt upstream if one user dominates. Emission in append mode waits for
the watermark to close the interval, so downstream sees each matched
pair exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hha_spark.functions.local import sql_over_views


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    key: str = "user_id",
    left_ts: str = "click_ts",
    right_ts: str = "purchase_ts",
    max_delay_sec: int = 3600,
    watermark_sec: int = 600,
) -> DataFrame:
    """Inner-join purchases to the clicks they follow within
    `max_delay_sec`, both sides watermarked by `watermark_sec`.

    Inputs carry integer-second event times in `left_ts`/`right_ts`.
    Returns (key, click columns..., purchase columns..., delay_sec).
    """
    lw = clicks.withColumn(
        "_lt", F.timestamp_seconds(F.col(left_ts))
    ).withWatermark("_lt", f"{watermark_sec} seconds")
    rw = (
        purchases.withColumnRenamed(key, "_rkey")
        .withColumn("_rt", F.timestamp_seconds(F.col(right_ts)))
        .withWatermark("_rt", f"{watermark_sec} seconds")
    )
    cond = (
        (F.col(key) == F.col("_rkey"))
        & (F.col("_rt") >= F.col("_lt"))
        & (F.col("_rt") <= F.col("_lt") + F.expr(f"INTERVAL {max_delay_sec} SECONDS"))
    )
    return (
        lw.join(rw, cond, "inner")
        .drop("_rkey", "_lt", "_rt")
        .withColumn(
            "delay_sec", (F.col(right_ts) - F.col(left_ts)).cast("long")
        )
    )


# --- bounded-disorder attribution (explicit watermark-buffer state) -------
#
# The foreachBatch twin of attribution_join for the delivery shape
# Spark's native stream-stream join cannot replay here (the gate's
# file fixture delivers boundary events one file LATE): the same
# watermark-buffer discipline streaming/sessionize.py built for
# sessionization, applied to the dual-input interval join. Contract:
# every arriving event's ts >= (max ts of all previously arrived
# events) - disorder_sec. Events at or above wm = max_seen -
# disorder_sec wait in the buffer — TIES INCLUDED: an event with
# ts == wm is still reachable by an admissible same-timestamp
# arrival (arrival bound ts' >= max_seen - disorder = wm allows
# ts' == wm), and unlike the sessionizer — whose sessions stay OPEN
# with gap slack, so a tie can still merge later — a purchase
# finalizes irreversibly at maturity, so maturing the tie would
# permanently lose the zero-delay pair (round-8 self-review finding).
# The strictly-below-wm mature slice is therefore replayed in global
# time order. A purchase matures exactly once and joins the click
# state at that moment, so every (click, purchase) pair with
# purchase_ts - click_ts in [0, max_delay_sec] is emitted exactly
# once:
#   * a matching click matured no later than the purchase
#     (click_ts <= purchase_ts < wm) and is still in state, because
#     eviction keeps click_ts + max_delay >= wm and every purchase
#     maturing after that eviction has ts >= that wm (arrival bound);
#   * clicks never re-join old purchases (purchases hold no state).
# State: clicks within max_delay of the watermark + the disorder
# buffer — exactly the eviction bound Spark's symmetric hash join
# derives from the same watermark + time-range condition.
#
# Storage reuses the sessionize unified-store pattern: ONE versioned
# kind-partitioned write per epoch (kind=click state, kind=buf
# immature events, kind=attr emitted pairs — append-only history),
# deterministic per epoch from the pre-state read via before_epoch,
# so retries rewrite the same bytes.

_ATTR_STORE_SCHEMA = (
    "user_id long, ts_s long, ts2_s long, etype string, kind string"
)
_ATTR_PAIR_SCHEMA = "user_id long, ts_s long, ts2_s long"
_K_CLICK = "click"
_K_BUF = "buf"
_K_ATTR = "attr"

# Fused per-epoch statement (round 12): the processor body used to
# build ~12 chained DataFrame constructions per epoch — each one a
# py4j round-trip plus an eager analysis pass (see the _MERGE_CTES
# block comment in streaming/sessionize.py for the measured cost).
# One statement, literal transcription of the former Column chain:
# watermark split, click-state union, the interval join, eviction,
# and the unified kind-partitioned write frame.
_ATTR_EPOCH_SQL = """
WITH _m AS (
    SELECT user_id, ts_s, etype FROM {ev} WHERE ts_s < :wm),
  _clicks AS (
    SELECT user_id, ts_s FROM {store} WHERE kind = 'click'
    UNION ALL
    SELECT user_id, ts_s FROM _m WHERE etype = 'click'),
  _pairs AS (
    SELECT p.user_id, c.ts_s AS ts_s, p.ts_s AS ts2_s
    FROM (SELECT user_id, ts_s FROM _m WHERE etype = 'purchase') p
    JOIN _clicks c
      ON p.user_id = c.user_id
     AND p.ts_s >= c.ts_s AND p.ts_s <= c.ts_s + :max_delay)
SELECT user_id, ts_s, ts2_s, CAST(NULL AS STRING) AS etype,
       'attr' AS kind
FROM _pairs
UNION ALL
SELECT user_id, ts_s, CAST(NULL AS BIGINT) AS ts2_s,
       CAST(NULL AS STRING) AS etype, 'click' AS kind
FROM _clicks WHERE ts_s + :max_delay >= :wm
UNION ALL
SELECT user_id, ts_s, CAST(NULL AS BIGINT) AS ts2_s, etype,
       'buf' AS kind
FROM {ev} WHERE ts_s >= :wm
"""

# Fused end-of-stream flush tail: buffered purchases join the click
# state plus buffered clicks — final_attributions' former chain
_ATTR_FLUSH_SQL = """
WITH _clicks AS (
    SELECT user_id, ts_s FROM {store} WHERE kind = 'click'
    UNION ALL
    SELECT user_id, ts_s FROM {store}
    WHERE kind = 'buf' AND etype = 'click')
SELECT p.user_id, c.ts_s AS ts_s, p.ts_s AS ts2_s
FROM (SELECT user_id, ts_s FROM {store}
      WHERE kind = 'buf' AND etype = 'purchase') p
JOIN _clicks c
  ON p.user_id = c.user_id
 AND p.ts_s >= c.ts_s AND p.ts_s <= c.ts_s + :max_delay
"""


def make_disorder_attribution_processor(
    spark,
    *,
    store_root: str,
    max_delay_sec: int,
    disorder_sec: int,
):
    """Per-micro-batch body (see block comment above for the
    exactly-once argument). Per-epoch actions: one tiny max aggregate
    (doubles as the empty probe and materializes the cached event
    union) and ONE kind-partitioned write. Heals any crashed store
    compaction first (streaming/store.py recovery contract)."""
    from hha_spark.streaming.sessionize import (
        _prune_store_versions,
        _read_versioned,
    )
    from hha_spark.streaming.store import recover_compaction

    recover_compaction(spark, store_root)

    def process(batch_df, epoch_id: int) -> None:
        epoch = int(epoch_id)
        # per-batch clone session: foreachBatch frames live on a clone
        # of the stream's session, and the fused statement's frame
        # substitution registers temp views in each frame's OWN
        # session — everything here must stay on that clone
        session = batch_df.sparkSession
        store = _read_versioned(
            session, store_root, _ATTR_STORE_SCHEMA, before_epoch=epoch
        )
        buf = store.where(F.col("kind") == _K_BUF).select(
            "user_id", "ts_s", "etype"
        )
        all_ev = (
            batch_df.select("user_id", "ts_s", "etype")
            .unionByName(buf)
            .persist()
        )
        try:
            (mx,) = all_ev.agg(F.max("ts_s")).first()
            if mx is None:  # empty batch AND empty buffer: no-op epoch
                return
            wm = int(mx) - disorder_sec
            # strict: ts == wm buffers (see module block comment).
            # One fused statement = one analysis pass (_ATTR_EPOCH_SQL
            # above); literal transcription of the former Column chain
            unified = sql_over_views(
                session,
                _ATTR_EPOCH_SQL,
                frames={"ev": all_ev, "store": store},
                args={"wm": wm, "max_delay": max_delay_sec},
            )
            # non-empty by construction: the max event satisfies
            # ts = max >= max - disorder_sec = wm, so it is always
            # immature — kind=buf always exists, for ANY
            # disorder_sec >= 0 (the strict maturity bound is what
            # makes the zero-disorder configuration safe too)
            # static overwrite pinned for retry idempotence (see
            # sessionize.make_sessionize_processor's write)
            unified.write.option(
                "partitionOverwriteMode", "static"
            ).partitionBy("kind").mode("overwrite").parquet(
                f"{store_root}/v{epoch}"
            )
            _prune_store_versions(
                session,
                store_root,
                current_epoch=epoch,
                prune_kinds=(_K_CLICK, _K_BUF),
            )
        finally:
            all_ev.unpersist()

    return process


def final_attributions(
    spark, *, store_root: str, max_delay_sec: int
):
    """End-of-stream flush: the buffered purchases (everything still
    above the last watermark) join the click state plus the buffered
    clicks — the only clicks that can still reach them (an evicted
    click has click_ts + max_delay below the watermark, and every
    buffered purchase is above it). Returns every attributed pair:
    (user_id, ts_s=click_ts, ts2_s=purchase_ts)."""
    from hha_spark.streaming.sessionize import (
        _read_versioned,
        read_kind_history,
    )

    # one fused statement (_ATTR_FLUSH_SQL): the buffered-purchase x
    # (state + buffered clicks) interval join as a single analysis
    tail = sql_over_views(
        spark,
        _ATTR_FLUSH_SQL,
        frames={
            "store": _read_versioned(spark, store_root, _ATTR_STORE_SCHEMA)
        },
        args={"max_delay": max_delay_sec},
    )
    emitted = read_kind_history(
        spark,
        store_root,
        _K_ATTR,
        _ATTR_PAIR_SCHEMA,
        ("user_id", "ts_s", "ts2_s"),
    )
    return emitted.unionByName(tail)
