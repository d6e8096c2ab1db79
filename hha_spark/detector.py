"""Batch detection cycle — the operable replacement for the
reference's main loop (hha.py:315-327).

One cycle = read pruned windows -> detect_spikes (S1-S8) -> gate by
watchlist -> suppress recently-alerted keys -> append to the alerts
table -> emit rules. The reference's hand-rolled pieces map as:

    wall-clock window bounds (hha.py:320-323) -> `now` parameter, bound
                                                 as a one-row clock the
                                                 bounds are computed from
    hour-file name math (hha.py:293-301)      -> `cycle_window` +
                                                 partition pruning
    Consul thread + shared set (hha.py:41-71) -> per-cycle zones read
    GlobalRowList TTL dict (hha.py:234-244)   -> recent_alerts anti-join;
                                                 append_alerts unlinks
                                                 files past the TTL
    collect+loop gating (hha.py:233-242)      -> broadcast semi-join
    GenerateRule stub (hha.py:248-249)        -> collect_rules output

`run_cycle` is a function of (data, zones, alert log, now) — the
scheduler around it (cron, Airflow, a while/sleep loop) is deliberately
out of scope; Structured Streaming covers the continuous deployment
shape, and its micro-batch processor runs this same `run_cycle` over
its samples table (hha_spark/streaming/spike_stream.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hha_spark.config import DetectorParams
from hha_spark.operators.spike import detect_spikes
from hha_spark.sinks.alerts import append_alerts, collect_rules, recent_alerts
from hha_spark.sources.histograms import SECONDS_PER_HOUR, read_window

from hha_spark.caching import release_tracked


def cycle_window(now: int, params: DetectorParams) -> tuple[int, int]:
    """The open `(lower, upper)` timestamp bounds a cycle at `now` reads.

    The LOWER bound matters for semantics, not just pruning: the
    reference physically restricts the previous window to the current
    + previous hourly file (hha.py:147,293-297), so with long data
    retention an unbounded scan would average the baseline over all
    history. `history_hours=2` reproduces the reference's lower edge
    exactly; the bound sits one second before the oldest hour, since
    the row cut is strict (ts > lower) and the hourly file layout keeps
    a row on that boundary. `read_window` prunes the cycle's hours with
    these bounds on the driver; `detect_spikes` cuts the rows with the
    same bounds computed from its clock's `_now`."""
    hour_start = (now // SECONDS_PER_HOUR) * SECONDS_PER_HOUR
    lower = hour_start - (params.history_hours - 1) * SECONDS_PER_HOUR - 1
    return lower, now + 1


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

    One scan of `cycle_window`'s hours feeds TTL-suppressed S1-S8, run
    by ONE action (the rules collect); the rules are appended at `now`
    from the driver, and tracked persists are released. `now` enters
    the plan only through `detect_spikes`' one-row clock, so from the
    second cycle on nothing is compiled (operators/spike.py). The streaming
    micro-batch processor (streaming/spike_stream.py) calls this same
    function over its samples table.

    Pass `metrics_out={}` to collect cycle observability for free:
    `Observation` nodes piggyback on the plan the cycle already
    executes (no extra scan, no extra job — the executor-side
    accumulators fill during the rule materialization), recording
    input volume and the observed time span (of the rows in the
    cycle's hours, before the clock's row cut), and alert counts per
    scope.
    This is the Spark-native replacement for the reference's stage
    timers + print statements (hha.py stage timing)."""
    p = params or DetectorParams()
    now = int(time.time()) if now is None else now
    lower, upper = cycle_window(now, p)
    # the window's hours; detect_spikes cuts their rows to the window
    # and the alerts to the TTL, both on its clock
    hist = read_window(spark, data_root, lower=lower, upper=upper)
    if metrics_out is not None:
        obs_in = Observation("cycle_input")
        hist = hist.observe(
            obs_in,
            F.count(F.lit(1)).alias("n_hist_rows"),
            F.min("timestamp").alias("min_ts"),
            F.max("timestamp").alias("max_ts"),
        )

    prior = recent_alerts(spark, alerts_path)
    alerts = detect_spikes(hist, params=p, now=now, zones=zones, prior_alerts=prior)
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
        append_alerts(
            spark, rules, alerts_path, detected_at=now, ttl_sec=p.limit_detect_time_sec
        )
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
