"""Golden tests for spike-detection semantics S1-S8 (SURVEY.md §2.1).

Scenarios encode the reference README's worked examples
(README.md:81-119) plus the edge cases FIXTURES.md §A1 calls out:
drop-clamp guard asymmetry, net-only spike, zero-prev division edge,
watchlist gating, TTL dedup.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hha_spark.config import DetectorParams
from hha_spark.functions.ip import net24_base
from hha_spark.operators.spike import (
    HISTOGRAM_SHAPE,
    detect_spikes,
    run_spike_statement,
    window_averages,
)
from hha_spark.schemas import HISTOGRAM_SCHEMA, ZONES_SCHEMA

P = DetectorParams()  # defaults: Q=3, L32=2500, L24=3500, TTL=300
NOW = 1_700_000_000
CUR_TS = NOW - 10        # inside current window (> now-90)
PREV_TS = NOW - 400      # inside previous window (< now-300)
DEAD_TS = NOW - 200      # in neither window (one-sided bounds)


def hist_df(spark, rows):
    """rows: (ts, num_protocol, type_proto, count_pkt, dst_ip)"""
    data = [(ts, 1, np_, tp, cnt, ip) for ts, np_, tp, cnt, ip in rows]
    return spark.createDataFrame(data, HISTOGRAM_SCHEMA)


def fused_rows(df):
    """The detector statement's `fused` CTE (S1+S3+S4) at NOW under P:
    per key, (sum_val, prev_sum_val, prev_sum_val2). NOW is bound as
    the `_now` column HISTOGRAM_SHAPE windows on. Spark rejects an
    unbound marker even in an unread CTE, so the alert CTEs' markers
    are bound too."""
    args = {
        "cur_span": P.cur_window_sec,
        "prev_span": P.prev_window_sec,
        "q": P.quotient_amplification,
        "limit_new": P.limit_new_data,
        "limit_new_net": P.limit_new_data_net,
        "scope_entity": "ip",
        "scope_bucket": "net",
    }
    return run_spike_statement(
        df.withColumn("_now", F.lit(NOW).cast("long")), HISTOGRAM_SHAPE,
        "SELECT * FROM fused", args,
    ).collect()


def key_rows(key, ts, avg_target, n=2):
    """n rows for one (num_protocol, type_proto, dst_ip) key whose
    CountPkt average equals avg_target exactly."""
    np_, tp, ip = key
    return [(ts, np_, tp, avg_target, ip) for _ in range(n)]


def alerts_set(df):
    return {
        (r.num_protocol, r.type_proto, r.sum_val, r.dst_ip, r.scope)
        for r in df.collect()
    }


IP_A = 174327308
IP_B = 174327315
IP_C = 174327451
NET_A = net24_base(IP_A)  # 174327296


def test_no_spike_scenario(spark):
    """README case 1: cur ≈ prev for every key -> empty alert set."""
    rows = []
    for key, cur, prev in [
        ((65535, 41, IP_A), 169, 179),
        ((2888, 32, IP_B), 176, 182),
        ((68, 11, IP_C), 173, 173),
        ((65535, 42, IP_B), 1745, 1737),
    ]:
        rows += key_rows(key, CUR_TS, cur) + key_rows(key, PREV_TS, prev)
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW)
    assert out.count() == 0


def test_new_key_default(spark):
    """README case 2 / S4: a key absent from the previous window gets
    baseline LimitNewData; it alerts iff cur/L32 > Q, i.e. cur > 7500."""
    rows = (
        key_rows((68, 11, IP_C), CUR_TS, 175)       # new, small -> silent
        + key_rows((65535, 41, IP_A), CUR_TS, 8000)  # new, big -> alerts
        # an unrelated stable key so prev window is non-empty
        + key_rows((2888, 32, IP_B), CUR_TS, 176)
        + key_rows((2888, 32, IP_B), PREV_TS, 182)
    )
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW)
    got = alerts_set(out)
    # /32 alert carries the BASELINE as sum_val (hha.py:210)
    assert (65535, 41, P.limit_new_data, IP_A, "ip") in got
    assert not any(r[3] == IP_C and r[4] == "ip" for r in got)


def test_spike_scenario(spark):
    """README case 3 / S6: existing keys with cur/prev > Q alert, with
    the baseline value in the sum_val slot."""
    rows = []
    for key, cur, prev in [
        ((65, 11, IP_C), 961, 174),     # 5.5x -> alert
        ((68, 11, IP_C), 1300, 174),    # 7.5x -> alert
        ((2777, 31, IP_C), 148, 150),   # flat
        ((2888, 32, IP_C), 173, 171),   # flat
        ((65535, 41, IP_C), 171, 173),  # flat
        ((65535, 42, IP_C), 1739, 1755),
    ]:
        rows += key_rows(key, CUR_TS, cur) + key_rows(key, PREV_TS, prev)
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW)
    ip_alerts = {a for a in alerts_set(out) if a[4] == "ip"}
    assert ip_alerts == {(65, 11, 174, IP_C, "ip"), (68, 11, 174, IP_C, "ip")}


def test_avg_truncates_toward_zero(spark):
    """S1: int(avg) truncation — avg([10,11]) = 10.5 -> 10."""
    rows = [(CUR_TS, 65, 11, 10, IP_A), (CUR_TS, 65, 11, 11, IP_A)]
    out = window_averages(
        hist_df(spark, rows),
        key_cols=["num_protocol", "type_proto", "dst_ip"],
        value_col="CountPkt",
        lower=NOW - P.cur_window_sec,
    )
    assert out.collect()[0].sum_val == 10


def test_one_sided_windows_exclude_dead_zone(spark):
    """S1: rows between now-300 and now-90 belong to NEITHER window."""
    rows = key_rows((65, 11, IP_A), DEAD_TS, 99999)
    df = hist_df(spark, rows)
    cur = window_averages(
        df, key_cols=["dst_ip"], value_col="CountPkt", lower=NOW - 90
    )
    prev = window_averages(
        df, key_cols=["dst_ip"], value_col="CountPkt", upper=NOW - 300
    )
    assert cur.count() == 0 and prev.count() == 0


def test_drop_clamp_with_guard_ip(spark):
    """S3: /32 clamp fires only when prev > LimitNewData.

    Key X: prev=3000 (>2500), cur=100 -> prev/cur=30>Q and guard holds
    -> baseline clamped to 2500 -> 100/2500 no alert (but a later
    recovery to ~normal WOULD alert — asymmetry is intended).
    Key Y: prev=1000 (<=2500), cur=100 -> guard fails -> baseline 1000.
    Neither alerts now; verify via the baseline a recovery would see.
    """
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 100) + key_rows((65, 11, IP_A), PREV_TS, 3000)
        + key_rows((68, 11, IP_B), CUR_TS, 100) + key_rows((68, 11, IP_B), PREV_TS, 1000)
    )
    rows_ = {r.dst_ip: r for r in fused_rows(hist_df(spark, rows))}
    assert rows_[IP_A].prev_sum_val2 == 2500   # clamped
    assert rows_[IP_B].prev_sum_val2 == 1000   # guard blocked the clamp


def test_net_clamp_lacks_guard(spark):
    """S5: the /24 clamp has NO prev>limit guard (hha.py:177 vs 191).

    With Q >= 1 the difference never reaches an alert (a clamp needs
    prev > Q*cur and the clamped alert cur > Q*limit), so Q = 0.5
    makes it visible in the baseline each alert carries: one key,
    cur=2000, prev=1500 (below both limits), prev/cur = 0.75 > Q.
    The /32 guard blocks the clamp (baseline 1500); the /24 clamp
    fires anyway (baseline LimitNewDataNet)."""
    from dataclasses import replace

    rows = key_rows((65, 11, IP_A), CUR_TS, 2000) + key_rows(
        (65, 11, IP_A), PREV_TS, 1500
    )
    out = detect_spikes(
        hist_df(spark, rows), params=replace(P, quotient_amplification=0.5),
        now=NOW,
    )
    assert alerts_set(out) == {
        (65, 11, 1500, IP_A, "ip"),
        (65, 11, P.limit_new_data_net, NET_A, "net"),
    }


def test_net_only_spike_from_new_host(spark):
    """A /24 alerts when a new host inflates the network average even
    though no single /32 crosses its own threshold (S2 avg-of-avg)."""
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 250)
        + key_rows((65, 11, IP_A), PREV_TS, 100)
        # same /24, new host, below the 7500 /32 new-key bar
        + key_rows((65, 11, IP_A + 1), CUR_TS, 5000)
    )
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW)
    got = alerts_set(out)
    # net avg cur = (250+5000)/2 = 2625, prev = 100 -> 26x
    assert (65, 11, 100, NET_A, "net") in got
    assert not any(a[4] == "ip" for a in got)


def test_zero_prev_baseline_drops_row(spark):
    """S6 edge: prev avg truncates to 0 -> ratio NULL -> row silently
    dropped (legacy division semantics, reproduced via nullif)."""
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 900)
        + key_rows((65, 11, IP_A), PREV_TS, 0)
    )
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW)
    assert not any(a[4] == "ip" for a in alerts_set(out))


def test_watchlist_gating_exact_match(spark):
    """S8: only watchlisted dst pass; a /24 alert needs its *base
    address* in the watchlist (hha.py:237 exact-int membership)."""
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 12000)         # new-key /32 + /24 alert
        + key_rows((68, 11, IP_C), CUR_TS, 8000)        # new-key /32 alert (not watched)
        + key_rows((2888, 32, IP_B), CUR_TS, 176)
        + key_rows((2888, 32, IP_B), PREV_TS, 182)
    )
    zones = spark.createDataFrame([(IP_A,), (net24_base(IP_A),)], ZONES_SCHEMA)
    out = detect_spikes(
        hist_df(spark, rows), params=P, now=NOW, zones=zones
    )
    got = alerts_set(out)
    assert any(a[3] == IP_A and a[4] == "ip" for a in got)
    assert any(a[3] == NET_A and a[4] == "net" for a in got)  # base addr watched
    assert not any(a[3] == IP_C for a in got)


def test_ttl_dedup_suppresses_recent(spark):
    """S8: an alert raised within LimitDetectTimeSec is suppressed;
    an older one is re-raised (GlobalRowList TTL, hha.py:234-244)."""
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 8000)
        + key_rows((68, 11, IP_C), CUR_TS, 8000)
    )
    prior = spark.createDataFrame(
        [
            (65, 11, IP_A, NOW - 100),   # recent -> suppress
            (68, 11, IP_C, NOW - 9999),  # stale -> purged, re-alert
        ],
        "num_protocol int, type_proto int, dst_ip long, detected_at long",
    )
    out = detect_spikes(
        hist_df(spark, rows), params=P, now=NOW, prior_alerts=prior
    )
    got = alerts_set(out)
    assert not any(a[3] == IP_A and a[4] == "ip" for a in got)
    assert any(a[3] == IP_C and a[4] == "ip" for a in got)


def test_subagent_id_ignored(spark):
    """The subagent_id column is carried but never affects grouping
    (selected at hha.py:142, unused downstream)."""
    data = [
        (CUR_TS, 1, 65, 11, 100, IP_A),
        (CUR_TS, 2, 65, 11, 200, IP_A),  # different agent, same key
    ]
    df = spark.createDataFrame(data, HISTOGRAM_SCHEMA)
    out = window_averages(
        df, key_cols=["num_protocol", "type_proto", "dst_ip"],
        value_col="CountPkt", lower=NOW - 90,
    )
    res = out.collect()
    assert len(res) == 1 and res[0].sum_val == 150


def test_huge_counters_average_exactly_and_alert(spark):
    """CountPkt samples of 10^12 and more in both windows: the window
    averages are exact floors and the key alerts. A DECIMAL(18,6)
    cast of such a sample is NULL in a non-ANSI session, which used to
    null the key's sum_val and silently drop its alert."""
    big = 10**12
    cur_vals = [3 * big + 1, 3 * big + 2, 3 * big + 2]
    prev_vals = [big, big + 1]
    rows = [(CUR_TS, 65, 11, v, IP_A) for v in cur_vals] + [
        (PREV_TS, 65, 11, v, IP_A) for v in prev_vals
    ]
    df = hist_df(spark, rows)
    cur_avg = sum(cur_vals) // len(cur_vals)
    prev_avg = sum(prev_vals) // len(prev_vals)

    (r,) = fused_rows(df)
    assert (r.sum_val, r.prev_sum_val, r.prev_sum_val2) == (cur_avg, prev_avg, prev_avg)

    # cur/prev = 3.000000000001 > Q: the /32 and its /24 (the only
    # host) both alert, carrying the exact baseline
    assert alerts_set(detect_spikes(df, params=P, now=NOW)) == {
        (65, 11, prev_avg, IP_A, "ip"),
        (65, 11, prev_avg, NET_A, "net"),
    }


def test_negative_sums_floor_toward_minus_infinity(spark):
    """The BIGINT floor matches floor(avg) for negative window sums,
    where plain DIV would truncate toward zero."""
    rows = [(CUR_TS, 65, 11, v, IP_A) for v in (-7, 0, 0)] + [
        (PREV_TS, 65, 11, v, IP_A) for v in (-1, -2)
    ]
    (r,) = fused_rows(hist_df(spark, rows))
    assert (r.sum_val, r.prev_sum_val) == (-7 // 3, -3 // 2)  # (-3, -2)


def test_statement_text_holds_no_values(spark, monkeypatch):
    """The detector's statement is one fixed string: every `now`
    derived bound and every threshold binds a parameter marker, so the
    text is byte-identical across cycles and DetectorParams."""
    from dataclasses import replace

    from pyspark.sql import SparkSession

    sent = []
    real_sql = SparkSession.sql

    def recording_sql(self, sqlQuery, args=None, **kwargs):
        sent.append((sqlQuery, args))
        return real_sql(self, sqlQuery, args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", recording_sql)
    hist = hist_df(spark, key_rows((65, 11, IP_A), CUR_TS, 9000))
    zones = spark.createDataFrame([(IP_A,)], ZONES_SCHEMA)
    prior = spark.createDataFrame(
        [(68, 11, IP_C, NOW - 100)],
        "num_protocol int, type_proto int, dst_ip long, detected_at long",
    )
    other = replace(P, quotient_amplification=5, limit_new_data=1234,
                    limit_new_data_net=4321, limit_detect_time_sec=77)
    for params in (P, other):
        for now in (NOW, NOW + 3601):
            detect_spikes(hist, params=params, now=now, zones=zones,
                          prior_alerts=prior)
    texts = {text for text, _ in sent}
    assert len(sent) == 4 and len(texts) == 1
    (text,) = texts
    for _, args in sent:
        for key, value in args.items():
            assert f":{key}" in text
            if isinstance(value, int) and value >= 77:
                assert str(value) not in text
    assert len({tuple(sorted(a.items())) for _, a in sent}) == 4


HOUR_EDGE = (NOW // 3600) * 3600


@given(
    now=st.integers(HOUR_EDGE - 7300, HOUR_EDGE + 7300),
    hours=st.integers(1, 3),
)
@example(now=HOUR_EDGE, hours=1)
@example(now=HOUR_EDGE - 1, hours=2)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_clock_row_cut_is_cycle_window(spark, now, hours):
    """detect_spikes cuts its input to `cycle_window` with bounds it
    computes from the clock's `_now`: rows on and next to each bound
    are kept exactly when lower < ts < upper."""
    from dataclasses import replace

    from hha_spark.detector import cycle_window
    from hha_spark.operators.spike import _CYCLE_SOURCE, _cycle_args

    params = replace(P, history_hours=hours)
    lower, upper = cycle_window(now, params)
    ts = [lower - 1, lower, lower + 1, upper - 1, upper, upper + 1]
    got = run_spike_statement(
        hist_df(spark, [(t, 65, 11, 1, IP_A) for t in ts]), HISTOGRAM_SHAPE,
        "SELECT `timestamp` FROM _src", _cycle_args(params, now),
        source=_CYCLE_SOURCE,
    ).collect()
    assert sorted(r.timestamp for r in got) == [t for t in ts if lower < t < upper]


def test_ttl_cut_is_strict(spark):
    """An alert raised exactly `limit_detect_time_sec` before `now` has
    expired; one raised a second later still suppresses
    (`detected_at > now - ttl`, the complement of the
    `detected_at <= now - ttl` files `append_alerts` unlinks)."""
    ttl = P.limit_detect_time_sec
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 8000)
        + key_rows((68, 11, IP_C), CUR_TS, 8000)
    )
    prior = spark.createDataFrame(
        [(65, 11, IP_A, NOW - ttl), (68, 11, IP_C, NOW - ttl + 1)],
        "num_protocol int, type_proto int, dst_ip long, detected_at long",
    )
    got = alerts_set(
        detect_spikes(hist_df(spark, rows), params=P, now=NOW, prior_alerts=prior)
    )
    assert {(a[3], a[4]) for a in got if a[4] == "ip"} == {(IP_A, "ip")}
