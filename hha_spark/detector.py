"""Batch detection cycle — the operable replacement for the
reference's main loop (hha.py:315-327).

One cycle = read pruned windows -> detect_spikes (S1-S8) -> gate by
watchlist -> suppress recently-alerted keys -> append to the alerts
table -> emit rules. The reference's hand-rolled pieces map as:

    wall-clock window bounds (hha.py:320-323) -> `now` parameter
    hour-file name math (hha.py:293-301)      -> partition pruning
    Consul thread + shared set (hha.py:41-71) -> per-cycle zones read
    GlobalRowList TTL dict (hha.py:234-244)   -> recent_alerts anti-join
    collect+loop gating (hha.py:233-242)      -> broadcast semi-join
    GenerateRule stub (hha.py:248-249)        -> collect_rules output

`run_cycle` is a pure function of (data, zones, alert log, now) — the
scheduler around it (cron, Airflow, a while/sleep loop) is deliberately
out of scope; Structured Streaming covers the continuous deployment
shape (hha_spark/streaming/).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hha_spark.config import DetectorParams
from hha_spark.operators.spike import detect_spikes
from hha_spark.sinks.alerts import append_alerts, collect_rules, recent_alerts
from hha_spark.sources.histograms import read_window

from hha_spark.caching import release_tracked


def run_cycle(
    spark: SparkSession,
    *,
    data_root: str,
    alerts_path: str,
    params: DetectorParams | None = None,
    zones: DataFrame | None = None,
    now: int | None = None,
    metrics_out: dict | None = None,
) -> list[dict]:
    """Execute one detection cycle; returns the emitted rules.

    Pass `metrics_out={}` to collect cycle observability for free:
    `Observation` nodes piggyback on the plan the cycle already
    executes (no extra scan, no extra job — the executor-side
    accumulators fill during the rule materialization), recording
    input volume, the observed time span, and alert counts per scope.
    This is the Spark-native replacement for the reference's stage
    timers + print statements (hha.py stage timing)."""
    p = params or DetectorParams()
    now = int(time.time()) if now is None else now

    # one pruned scan covering both windows; detect_spikes applies the
    # row-level window bounds itself. The LOWER bound matters for
    # semantics, not just pruning: the reference physically restricts
    # the previous window to the current + previous hourly file
    # (hha.py:147,293-297), so with long data retention an unbounded
    # scan would average the baseline over all history. history_hours=2
    # reproduces the reference's lower edge exactly.
    hour_start = (now // 3600) * 3600
    # read_window's row filter is strict (ts > lower); -1 keeps a row
    # sitting exactly on the oldest hour boundary, as the hourly file
    # layout would.
    lower = hour_start - (p.history_hours - 1) * 3600 - 1
    hist = read_window(spark, data_root, lower=lower, upper=now + 1)
    return detect_and_append(
        spark, hist, alerts_path=alerts_path, params=p, now=now,
        zones=zones, metrics_out=metrics_out,
    )


def detect_and_append(
    spark: SparkSession,
    hist: DataFrame,
    *,
    alerts_path: str,
    params: DetectorParams,
    now: int,
    zones: DataFrame | None = None,
    metrics_out: dict | None = None,
) -> list[dict]:
    """The cycle body after the read, shared by `run_cycle` and the
    streaming micro-batch processor (streaming/spike_stream.py):
    TTL-suppressed S1-S8 over `hist` run by ONE action (the rules
    collect), the rules appended at `now` from the driver, tracked
    persists released. Returns the rules."""
    if metrics_out is not None:
        obs_in = Observation("cycle_input")
        hist = hist.observe(
            obs_in,
            F.count(F.lit(1)).alias("n_hist_rows"),
            F.min("timestamp").alias("min_ts"),
            F.max("timestamp").alias("max_ts"),
        )

    prior = recent_alerts(spark, alerts_path, now=now, ttl_sec=params.limit_detect_time_sec)
    alerts = detect_spikes(
        hist, params=params, now=now, zones=zones, prior_alerts=prior
    )
    if metrics_out is not None:
        obs_alerts = Observation("cycle_alerts")
        alerts = alerts.observe(
            obs_alerts,
            F.count(F.lit(1)).alias("n_alerts"),
            F.sum((F.col("scope") == "ip").cast("long")).alias("n_ip_alerts"),
            F.sum((F.col("scope") == "net").cast("long")).alias("n_net_alerts"),
        )
    try:
        # the cycle's one action; the append writes the collected
        # rules, so nothing re-reads the table the TTL anti-join read
        rules = collect_rules(alerts)
        append_alerts(spark, rules, alerts_path, detected_at=now)
        if metrics_out is not None:
            metrics_out.update(obs_in.get)
            metrics_out.update(obs_alerts.get)
        return rules
    finally:
        # cycle boundary of the session cache contract (caching.py):
        # the detection plan persists nothing, but a long-lived
        # detector still releases whatever was registered since the
        # last cycle, or the cache grows without bound
        release_tracked()
