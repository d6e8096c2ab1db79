"""Reference-parity spike detection mapped onto the `events` table.

The reference's fact table (histograms: timestamp/key/counter,
hha.py:141-143) has no driver-provided analogue, so the correctness
gate runs the same S1-S8 pipeline over `events`:

    timestamp   -> ts (nanosecond BIGINT -> integer microseconds)
    (num_protocol, type_proto, dst_ip) -> (user_id, event_type)
    CountPkt    -> value
    /24 rollup  -> user-decade bucket (user_id - user_id % 10)
    now         -> max(ts) over the table (deterministic, data-derived)

Windows: current = last 2 days, previous = everything older than
7 days before `now` — both one-sided like the reference's
(hha.py:141,148; endTime computed but unused, hha.py:321-323).

The S1-S7 queries run the histogram-domain detector's own statement
(`operators/spike.py::spike_statement`) over `EVENTS_SHAPE`, with a
fixed tail per query; only the domain's identifiers and marker values
differ. So the oracle checks pin the detector's semantics themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hha_spark.operators.spike import SpikeShape, run_spike_statement
from hha_spark.sources.tables import US_PER_DAY, events_ts_us, load_table

from hha_spark.caching import tracked_persist

Q = 1.5                 # quotientAmplification analogue
LIMIT_NEW = 40          # LimitNewData analogue (≈ median sum_val)
LIMIT_NEW_NET = 40      # LimitNewDataNet analogue
CUR_DAYS = 2
PREV_DAYS = 7

# the detector's statement over events: the data-derived `now` is the
# input's `now_us` column, so the windows are `now_us - :cur_span`
# and `now_us - :prev_span`
EVENTS_SHAPE = SpikeShape(
    keys=("user_id", "event_type"),
    entity="user_id",
    bucket="`user_id` - `user_id` % 10",
    value="value",
    time="ts_us",
    now="now_us",
)
EVENTS_ARGS = {
    "cur_span": CUR_DAYS * US_PER_DAY,
    "prev_span": PREV_DAYS * US_PER_DAY,
    "q": Q,
    "limit_new": LIMIT_NEW,
    "limit_new_net": LIMIT_NEW_NET,
    "scope_entity": "user",
    "scope_bucket": "bucket",
}


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        events_ts_us(ev).alias("ts_us"), "user_id", "event_type", "value"
    )


def with_now(ev: DataFrame) -> DataFrame:
    """`ev` with its max(ts_us) as the `now_us` column.

    The data-derived `now` rides a broadcast 1-row cross join instead
    of a driver collect. The plan has TWO FileScans — the fact scan
    plus a second, column-pruned scan computing max(ts_us) (asserted
    in tests/test_plans.py) — but that scan reads one column and is
    satisfied largely from parquet footer statistics, so the heavy
    work is one scan + one shuffle (the statement's `fused` CTE)."""
    return ev.join(F.broadcast(ev.agg(F.max("ts_us").alias("now_us"))))


def _spike(spark: SparkSession, sf_dir: str, tail: str) -> DataFrame:
    return run_spike_statement(
        with_now(_events_us(spark, sf_dir)), EVENTS_SHAPE, tail, EVENTS_ARGS
    )


def spike_events_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3+S4 exposed: per-key cur/prev/clamped-baseline frame."""
    return _spike(spark, sf_dir, """
        SELECT user_id, event_type, sum_val,
               COALESCE(prev_sum_val, :limit_new) AS prev_sum_val, prev_sum_val2
        FROM fused WHERE sum_val IS NOT NULL""")


def spike_events_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full S1-S7: per-key and per-bucket spike alerts.

    Alert rows carry the BASELINE in sum_val (reference quirk,
    hha.py:199,210) plus a scope marker instead of the reference's
    mixed-type positional column (hha.py:213-214). Every CTE has one
    reader, so nothing is persisted.
    """
    return _spike(spark, sf_dir, """
        SELECT user_id AS entity_id, event_type, sum_val, scope FROM alerts""")


TTL_US = 1 * US_PER_DAY          # LimitDetectTimeSec analogue
STALE_SHIFT_US = 2 * US_PER_DAY  # prior alerts older than the TTL


def spike_events_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: watchlist gating + TTL dedup over the S1-S7 alert stream.

    Mirrors the reference's output stage (hha.py:233-244): an alert is
    emitted only if its entity is on the watchlist — EXACT base-address
    membership, so a bucket alert passes only when the bucket's base
    value itself is watchlisted (hha.py:237) — and was not already
    raised within the TTL (GlobalRowList dict, hha.py:234-244; here a
    broadcast anti-join, same shape as detect_spikes' prior_alerts).

    Deterministic fixtures derived from the data itself so the DuckDB
    oracle can reproduce them exactly:
      zones        = distinct user_ids with user_id % 7 == 0
      prior alerts = alert keys with entity_id % 3 == 0, stamped
                     detected_at = now - 1ms   (even entity_id: recent,
                                                suppressed)
                                 = now - 2d    (odd: stale, survives)

    Scale shape: zones and prior are tiny relative to the fact table,
    so both gates are broadcast joins — no extra shuffle on the alert
    stream beyond what S1-S7 already did.
    """
    alerts = tracked_persist(spike_events_alerts(spark, sf_dir))
    ev = _events_us(spark, sf_dir)
    bounds = ev.agg(F.max("ts_us").alias("now_us"))
    zones = (
        ev.where(F.expr("user_id % 7 = 0"))
        .select(F.col("user_id").alias("entity_id"))
        .distinct()
    )
    prior = (
        alerts.where(F.expr("entity_id % 3 = 0"))
        .join(F.broadcast(bounds))
        .select(
            "entity_id", "event_type", "scope",
            F.when(F.expr("entity_id % 2 = 0"), F.col("now_us") - F.lit(1000))
            .otherwise(F.col("now_us") - F.lit(STALE_SHIFT_US))
            .alias("detected_at"),
        )
    )
    recent = (
        prior.join(F.broadcast(bounds))
        .where(F.col("detected_at") > F.col("now_us") - F.lit(TTL_US))
        .select("entity_id", "event_type", "scope")
    )
    return (
        alerts.join(F.broadcast(zones), on="entity_id", how="left_semi")
        .join(F.broadcast(recent), on=["entity_id", "event_type", "scope"], how="left_anti")
        .select("entity_id", "event_type", "sum_val", "scope")
    )


def spike_events_net_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 isolated: avg-of-avg bucket rollup of the current window."""
    return _spike(spark, sf_dir, """
        SELECT event_type, _bucket AS bucket_id, _cur AS sum_val
        FROM buckets WHERE _cur IS NOT NULL""")


QUERIES = {
    "spike_events_compare": spike_events_compare,
    "spike_events_alerts": spike_events_alerts,
    "spike_events_net_rollup": spike_events_net_rollup,
    "spike_events_gated": spike_events_gated,
}

# ---------------------------------------------------------------------------
# DuckDB oracles — textual mirrors of the operator semantics above.
# ---------------------------------------------------------------------------

_EV = "SELECT epoch_us(ts) AS ts_us, user_id, event_type, value FROM events"
_NOW = "SELECT epoch_us(max(ts)) AS now_us FROM events"
_AVG = "CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,6))) / COUNT(*)) AS BIGINT)"

_CUR = f"""
  SELECT user_id, event_type, {_AVG} AS sum_val
  FROM ev, bounds WHERE ts_us > now_us - {CUR_DAYS} * 86400000000
  GROUP BY user_id, event_type
"""
_PREV = f"""
  SELECT user_id, event_type, {_AVG} AS sum_val
  FROM ev, bounds WHERE ts_us < now_us - {PREV_DAYS} * 86400000000
  GROUP BY user_id, event_type
"""

_CMP = f"""
  SELECT c.user_id, c.event_type, c.sum_val,
         COALESCE(p.sum_val, {LIMIT_NEW}) AS prev_sum_val,
         COALESCE(CASE WHEN p.sum_val / NULLIF(c.sum_val, 0) > {Q}
                        AND p.sum_val > {LIMIT_NEW}
                       THEN {LIMIT_NEW} ELSE p.sum_val END,
                  {LIMIT_NEW}) AS prev_sum_val2
  FROM cur c LEFT JOIN prev p USING (user_id, event_type)
"""

_NET = f"""
  cur_net AS (
    SELECT event_type, user_id - user_id % 10 AS bucket_id,
           CAST(SUM(sum_val) // COUNT(*) AS BIGINT) AS sum_val
    FROM cur GROUP BY 1, 2),
  prev_net AS (
    SELECT event_type, user_id - user_id % 10 AS bucket_id,
           CAST(SUM(sum_val) // COUNT(*) AS BIGINT) AS sum_val
    FROM prev GROUP BY 1, 2),
  cmp_net AS (
    SELECT c.event_type, c.bucket_id, c.sum_val,
           COALESCE(CASE WHEN p.sum_val / NULLIF(c.sum_val, 0) > {Q}
                         THEN {LIMIT_NEW_NET} ELSE p.sum_val END,
                    {LIMIT_NEW_NET}) AS prev_sum_val2
    FROM cur_net c LEFT JOIN prev_net p USING (event_type, bucket_id))
"""

ORACLES = {
    "spike_events_compare": f"""
        WITH bounds AS ({_NOW}), ev AS ({_EV}),
             cur AS ({_CUR}), prev AS ({_PREV})
        {_CMP}
    """,
    "spike_events_alerts": f"""
        WITH bounds AS ({_NOW}), ev AS ({_EV}),
             cur AS ({_CUR}), prev AS ({_PREV}),
             cmp AS ({_CMP}),
             {_NET}
        SELECT user_id AS entity_id, event_type,
               prev_sum_val2 AS sum_val, 'user' AS scope
        FROM cmp WHERE sum_val / NULLIF(prev_sum_val2, 0) > {Q}
        UNION ALL
        SELECT bucket_id AS entity_id, event_type,
               prev_sum_val2 AS sum_val, 'bucket' AS scope
        FROM cmp_net WHERE sum_val / NULLIF(prev_sum_val2, 0) > {Q}
    """,
    "spike_events_gated": f"""
        WITH bounds AS ({_NOW}), ev AS ({_EV}),
             cur AS ({_CUR}), prev AS ({_PREV}),
             cmp AS ({_CMP}),
             {_NET},
             alerts AS (
               SELECT user_id AS entity_id, event_type,
                      prev_sum_val2 AS sum_val, 'user' AS scope
               FROM cmp WHERE sum_val / NULLIF(prev_sum_val2, 0) > {Q}
               UNION ALL
               SELECT bucket_id AS entity_id, event_type,
                      prev_sum_val2 AS sum_val, 'bucket' AS scope
               FROM cmp_net WHERE sum_val / NULLIF(prev_sum_val2, 0) > {Q}),
             zones AS (
               SELECT DISTINCT user_id AS entity_id FROM ev
               WHERE user_id % 7 = 0),
             prior AS (
               SELECT entity_id, event_type, scope,
                      CASE WHEN entity_id % 2 = 0 THEN now_us - 1000
                           ELSE now_us - {STALE_SHIFT_US} END AS detected_at
               FROM alerts, bounds WHERE entity_id % 3 = 0),
             recent AS (
               SELECT entity_id, event_type, scope FROM prior, bounds
               WHERE detected_at > now_us - {TTL_US})
        SELECT a.entity_id, a.event_type, a.sum_val, a.scope
        FROM alerts a
        WHERE EXISTS (SELECT 1 FROM zones z WHERE z.entity_id = a.entity_id)
          AND NOT EXISTS (SELECT 1 FROM recent r
                          WHERE r.entity_id = a.entity_id
                            AND r.event_type = a.event_type
                            AND r.scope = a.scope)
    """,
    "spike_events_net_rollup": f"""
        WITH bounds AS ({_NOW}), ev AS ({_EV}), cur AS ({_CUR})
        SELECT event_type, user_id - user_id % 10 AS bucket_id,
               CAST(SUM(sum_val) // COUNT(*) AS BIGINT) AS sum_val
        FROM cur GROUP BY 1, 2
    """,
}
