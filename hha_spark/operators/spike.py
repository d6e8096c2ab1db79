"""Two-window amplification-spike detection (the reference's core query).

Re-expresses reference hha.py:132-219 (`FiltrDataByInterval`) +
hha.py:223-244 (`attackAction`) as composable, key-generic DataFrame
transformations. Normative semantics S1-S8 are documented in
SURVEY.md §2.1; every quirk preserved here is cited.

Spark-first design decisions (vs the reference):
  * /24 derivation is a native bitmask expression (functions/ip.py),
    not a Python UDF (hha.py:20) — keeps whole-stage codegen intact.
  * both windows come from ONE conditional aggregation
    (`fused_window_compare`: one scan, one shuffle, no /32 join), and
    the /32 filter and the /24 branch read that fused frame through
    ONE grouped aggregate (`alerts_from_fused`), so the whole cycle is
    one linear plan with one reader per frame. Nothing needs the
    reference's RDD round-trip materialization hack (`recreateDF`,
    hha.py:119-128), and nothing is persisted.
  * no joins between windows or levels: keys missing from a window
    surface as NULL averages and take the new-key default
    (hha.py:179,194) by projection, not by a left-join miss.
  * watchlist gating is a broadcast left-semi join BEFORE any collect,
    replacing the driver-side `in zones` loop (hha.py:233-242).
  * TTL alert dedup is a left-anti join against a persisted alerts
    table, replacing the in-memory GlobalRowList dict (hha.py:234-244).
  * division guards: ratio denominators are wrapped in nullif(x, 0) so
    the query behaves identically under ANSI and legacy modes (the
    reference relied on legacy int/0 -> NULL row-drop, SURVEY.md S6).

Scale notes (100 TB design): the fused aggregation is
partial-aggregated map-side by Catalyst before its shuffle. The /24
aggregate consumes the already-aggregated /32 frame (avg-of-avg,
hha.py:160-168 semantics; cardinality = distinct keys, not raw rows)
in a second, partial-aggregated shuffle, so raw data is scanned once
and shuffled once for both windows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from hha_spark.config import DetectorParams
from hha_spark.functions.ip import ip_to_net24


def _safe_ratio(num: Column, den: Column) -> Column:
    """num/den with NULL (not error, not inf) on den == 0.

    Matches the reference's legacy-mode division semantics
    (SURVEY.md S6) while staying correct under ANSI mode.
    """
    return num / F.nullif(den, F.lit(0))


def window_averages(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    value_col: str,
    time_col: str = "timestamp",
    lower: int | None = None,
    upper: int | None = None,
    out_col: str = "sum_val",
    exact: bool = False,
) -> DataFrame:
    """S1 — per-key truncated average over a one-sided time window.

    Reference: filter at hha.py:141/148, aggregate at hha.py:143/149.
    `int(avg(x))` truncates toward zero (IntegerType cast) — preserved
    via floor on non-negative counters; `sum_val` is an AVERAGE
    despite its name (README.md:79).

    Both reference windows are one-sided (`endTime` computed but never
    applied, hha.py:321-323): pass only `lower` or only `upper` for
    parity; both for a bounded window.

    exact=True computes the average via exact decimal SUM / COUNT
    (functions/exact.py) so the floored value is identical across
    engines and partition orders — use for fractional value columns.
    """
    from hha_spark.functions.exact import trunc_avg_exact

    cond = F.lit(True)
    if lower is not None:
        cond = cond & (F.col(time_col) > F.lit(lower))
    if upper is not None:
        cond = cond & (F.col(time_col) < F.lit(upper))
    agg = (
        trunc_avg_exact(value_col, out=out_col)
        if exact
        else F.floor(F.avg(value_col)).cast("long").alias(out_col)
    )
    return df.where(cond).groupBy(*key_cols).agg(agg)


def rollup_averages(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    bucket_expr: Column,
    bucket_name: str,
    value_col: str = "sum_val",
) -> DataFrame:
    """S2 — re-average already-averaged per-key values into buckets.

    Reference hha.py:160-168: the /24 value is avg(per-/32 avg), NOT a
    recomputation from raw rows — an intentional quirk we preserve.
    `bucket_expr` generalizes the /24 network derivation.
    """
    return (
        df.withColumn(bucket_name, bucket_expr)
        .groupBy(*[c for c in group_cols], bucket_name)
        .agg(_avg_of_avg(value_col).alias(value_col))
    )


def _avg_of_avg(col: str) -> Column:
    """S2's bucket value: the average of the non-NULL per-key averages
    in `col`, NULL when there are none. floor(avg(int)) == integer
    floor division for the non-negative counters handled here; DIV is
    exact at any scale (no double rounding past 2^53)."""
    return F.expr(f"CAST(SUM({col}) DIV NULLIF(COUNT({col}), 0) AS BIGINT)")


def fused_window_compare(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    value_col: str,
    time_col: str,
    cur_lower: Column | int,
    prev_upper: Column | int,
    q: float,
    limit_new: int,
) -> DataFrame:
    """Single-pass S1+S3+S4: both window averages from ONE conditional
    aggregation, compare on the same row.

    The two-frame formulation (window_averages ×2 + left join) mirrors
    the reference's two-file reads, but when both windows come from
    the same source the whole comparison collapses: per key, aggregate
    CASE-filtered sums/counts for each window in one shuffle, then
    derive cur/prev/clamp by projection. At scale this replaces
    2 scans + 2 shuffles + 1 join with 1 scan + 1 shuffle + 0 joins,
    with identical results (keys missing from the previous window
    surface as prev_n = 0 -> the S4 default, exactly like a left-join
    miss).

    Bounds may be Columns (e.g. data-derived `now` broadcast via a
    1-row cross join) or int literals. The averages are exact floors.
    An integral `value_col` is summed as BIGINT and floored as
    `(s - pmod(s, n)) DIV n`: exact while a key's window sum fits a
    BIGINT, where a DECIMAL(18,6) cast turns any sample of 10^12 or
    more into NULL. A fractional one keeps the exact decimal path
    (functions/exact.py semantics). Output: all keys seen in
    EITHER window, with
        sum_val       cur avg (NULL when the key has no current rows)
        prev_sum_val  raw prev avg (NULL when absent)
        prev_sum_val2 clamped/defaulted baseline (S3/S4): a drop past
                      Q clamps to `limit_new` only when prev exceeds
                      `limit_new` (the /32 guard); the unguarded /24
                      clamp lives in `alerts_from_fused`
    Callers filter `sum_val IS NOT NULL` for the alert path and reuse
    prev columns for rollups.
    """
    lo = cur_lower if isinstance(cur_lower, Column) else F.lit(cur_lower)
    hi = prev_upper if isinstance(prev_upper, Column) else F.lit(prev_upper)
    in_cur = F.col(time_col) > lo
    in_prev = F.col(time_col) < hi
    if isinstance(df.schema[value_col].dataType, IntegralType):
        val = F.col(value_col).cast("long")

        def floor_avg(s: str, n: str) -> Column:
            # DIV truncates toward zero; subtracting the non-negative
            # remainder first makes it a floor for negative sums too
            return F.expr(f"({s} - pmod({s}, {n})) DIV {n}")
    else:
        val = F.col(value_col).cast("decimal(18,6)")

        def floor_avg(s: str, n: str) -> Column:
            return F.floor(F.col(s) / F.col(n)).cast("long")

    agg = df.groupBy(*key_cols).agg(
        F.sum(F.when(in_cur, val)).alias("_cur_sum"),
        F.sum(F.when(in_cur, 1).otherwise(0)).alias("_cur_n"),
        F.sum(F.when(in_prev, val)).alias("_prev_sum"),
        F.sum(F.when(in_prev, 1).otherwise(0)).alias("_prev_n"),
    )
    cur_avg = F.when(F.col("_cur_n") > 0, floor_avg("_cur_sum", "_cur_n"))
    prev_avg = F.when(F.col("_prev_n") > 0, floor_avg("_prev_sum", "_prev_n"))
    with_avgs = agg.select(*key_cols, cur_avg.alias("sum_val"), prev_avg.alias("prev_sum_val"))
    clamp_cond = (
        _safe_ratio(F.col("prev_sum_val"), F.col("sum_val")) > F.lit(q)
    ) & (F.col("prev_sum_val") > F.lit(limit_new))
    return with_avgs.select(
        *key_cols,
        "sum_val",
        "prev_sum_val",
        F.when(
            F.col("sum_val").isNotNull(),
            F.coalesce(
                F.when(clamp_cond, F.lit(limit_new)).otherwise(F.col("prev_sum_val")),
                F.lit(limit_new),
            ),
        ).alias("prev_sum_val2"),
    ).where((F.col("sum_val").isNotNull()) | (F.col("prev_sum_val").isNotNull()))


def alerts_from_fused(
    fused: DataFrame,
    *,
    group_cols: Sequence[str],
    entity_col: str,
    bucket_expr: Column,
    bucket_name: str,
    q: float,
    limit_new_net: int,
    scopes: tuple[str, str],
) -> DataFrame:
    """S2-S7 over a `fused_window_compare` frame keyed by
    (*group_cols, entity_col): per-entity and per-bucket alerts as ONE
    grouped aggregate, so the fused frame has a single reader.

    The fused frame is grouped once by (*group_cols, bucket). Per
    bucket the aggregate yields the avg-of-avg of the current and of
    the previous window (S2, `_avg_of_avg` as in `rollup_averages`;
    NULL when the bucket has no such keys) and the
    list of entity alerts passing S6 against their clamped baseline.
    The bucket value is then compared without the clamp guard and with
    `limit_new_net` as the new-bucket baseline (S3-S5), filtered (S6),
    and emitted with the entity alerts through one explode (S7) — no
    self-join, no union.

    Returns (*group_cols, sum_val, <entity_col>, scope): `sum_val` is
    the BASELINE (hha.py:199,210), bucket rows carry the bucket value
    in `entity_col` (hha.py:213-214), and `scope` is scopes[0] for
    entity rows and scopes[1] for bucket rows (S7).
    """

    def alert(baseline: Column, entity: Column, scope: str) -> Column:
        return F.struct(
            baseline.alias("sum_val"), entity.alias(entity_col),
            F.lit(scope).alias("scope"),
        )

    entity_alert = F.when(
        _safe_ratio(F.col("sum_val"), F.col("prev_sum_val2")) > F.lit(q),
        alert(F.col("prev_sum_val2"), F.col(entity_col), scopes[0]),
    )
    buckets = fused.groupBy(*group_cols, bucket_expr.alias(bucket_name)).agg(
        _avg_of_avg("sum_val").alias("_cur"),
        _avg_of_avg("prev_sum_val").alias("_prev"),
        # collect_list skips the NULLs of keys that do not alert
        F.collect_list(entity_alert).alias("_alerts"),
    )
    cur, prev = F.col("_cur"), F.col("_prev")
    baseline = F.coalesce(
        F.when(_safe_ratio(prev, cur) > F.lit(q), F.lit(limit_new_net)).otherwise(prev),
        F.lit(limit_new_net),
    )
    bucket_alert = F.when(
        _safe_ratio(cur, baseline) > F.lit(q),
        alert(baseline, F.col(bucket_name), scopes[1]),
    )
    return (
        buckets.select(
            *group_cols,
            F.explode(F.concat("_alerts", F.array(bucket_alert))).alias("_a"),
        )
        .where(F.col("_a").isNotNull())
        .select(*group_cols, "_a.*")
    )


def detect_spikes(
    histograms: DataFrame,
    *,
    params: DetectorParams,
    now: int,
    zones: DataFrame | None = None,
    prior_alerts: DataFrame | None = None,
) -> DataFrame:
    """Full S1-S8 detection cycle over the histogram fact table.

    One linear plan: one `fused_window_compare` over `histograms`
    yields both window averages and the /32 comparison (S1, S3, S4);
    its single reader, `alerts_from_fused`, derives the /32 and /24
    alerts in one grouped aggregate (S2-S7). Gating and TTL dedup (S8)
    are broadcast joins on the result. Nothing is persisted: the fact
    data is scanned once per action.

    Returns alerts with columns
        (num_protocol, type_proto, sum_val, dst_ip, scope)
    where — preserving the reference's (surprising) output shape at
    hha.py:199,210 — `sum_val` carries the BASELINE (prev_sum_val2),
    not the current value, and `dst_ip` holds the /24 network base
    address for scope='net' rows (the reference smuggles it through
    the same positional slot, hha.py:213-214; we keep it LongType and
    add `scope` instead of mixing string/int in one column).

    zones: optional watchlist DataFrame(ip: long) — exact-match
    broadcast semi-join gating (hha.py:237: a /24 alert passes only if
    the network *base address* itself is watchlisted).
    prior_alerts: optional DataFrame with (num_protocol, type_proto,
    dst_ip, detected_at) — alerts already raised within
    `limit_detect_time_sec` are suppressed (hha.py:234-244).
    """
    p = params
    keys = ["num_protocol", "type_proto", "dst_ip"]
    # CountPkt is integral: exact BIGINT window sums
    base = fused_window_compare(
        histograms, key_cols=keys, value_col="CountPkt",
        time_col="timestamp", cur_lower=now - p.cur_window_sec,
        prev_upper=now - p.prev_window_sec,
        q=p.quotient_amplification, limit_new=p.limit_new_data,
    )
    alerts = alerts_from_fused(
        base, group_cols=keys[:2], entity_col="dst_ip",
        bucket_expr=ip_to_net24("dst_ip"), bucket_name="dst_net",
        q=p.quotient_amplification, limit_new_net=p.limit_new_data_net,
        scopes=("ip", "net"),
    )

    if zones is not None:
        # S8 gating — exact membership, pushed below any collect
        alerts = alerts.join(
            F.broadcast(zones.select(F.col("ip").alias("dst_ip"))),
            on="dst_ip", how="left_semi",
        )
    if prior_alerts is not None:
        recent = prior_alerts.where(
            F.col("detected_at") > F.lit(now - p.limit_detect_time_sec)
        ).select("num_protocol", "type_proto", "dst_ip")
        alerts = alerts.join(
            F.broadcast(recent),
            on=["num_protocol", "type_proto", "dst_ip"], how="left_anti",
        )
    return alerts
