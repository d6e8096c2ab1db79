"""Two-window amplification-spike detection (the reference's core query).

Re-expresses reference hha.py:132-219 (`FiltrDataByInterval`) +
hha.py:223-244 (`attackAction`) as ONE parameterized SQL statement.
Normative semantics S1-S8 are documented in SURVEY.md §2.1; every
quirk preserved here is cited.

Spark-first design decisions (vs the reference):
  * the whole cycle, S1-S8, is one `spark.sql` statement
    (`spike_statement`): CTE `fused` holds both windows from ONE
    conditional aggregation (one scan, one shuffle, no /32 join),
    `buckets` the /32 alerts and the /24 avg-of-avg in ONE grouped
    aggregate over it, `alerts` one explode of both scopes. Every
    value (the `now`-derived bounds, Q, the new-key limits, the TTL
    cut, the scope labels) is a named parameter marker and every
    identifier comes from a fixed `SpikeShape`, so the text never
    changes between cycles and building it is one parse and one
    analysis, where the Column chain it replaced was a dozen eagerly
    analysed DataFrame steps.
  * /24 derivation is a native bitmask expression (functions/ip.py),
    not a Python UDF (hha.py:20) — keeps whole-stage codegen intact.
  * nothing needs the reference's RDD round-trip materialization hack
    (`recreateDF`, hha.py:119-128): every CTE has one reader, and
    nothing is persisted.
  * no joins between windows or levels: keys missing from a window
    surface as NULL averages and take the new-key default
    (hha.py:179,194) by projection, not by a left-join miss.
  * watchlist gating is a broadcast left-semi join BEFORE any collect,
    replacing the driver-side `in zones` loop (hha.py:233-242).
  * TTL alert dedup is a broadcast left-anti join against the
    persisted alerts table, replacing the in-memory GlobalRowList
    dict (hha.py:234-244).
  * division guards: ratio denominators are wrapped in NULLIF(x, 0) so
    the query behaves identically under ANSI and legacy modes (the
    reference relied on legacy int/0 -> NULL row-drop, SURVEY.md S6).

Scale notes (100 TB design): the fused aggregation is
partial-aggregated map-side by Catalyst before its shuffle. The /24
aggregate consumes the already-aggregated /32 rows (avg-of-avg,
hha.py:160-168 semantics; cardinality = distinct keys, not raw rows)
in a second, partial-aggregated shuffle, so raw data is scanned once
and shuffled once for both windows.

`window_averages` and `rollup_averages` are the two-frame building
blocks (one frame per window) that the equivalence tests hold the
statement to.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from hha_spark.config import DetectorParams
from hha_spark.functions.ip import _NET24_MASK
from hha_spark.functions.local import sql_over_views

# S2's bucket value: the average of the non-NULL per-key averages in
# `c`, NULL when there are none. floor(avg(int)) == integer floor
# division for the non-negative counters handled here; DIV is exact at
# any scale (no double rounding past 2^53).
_AVG_OF_AVG = "CAST(SUM({c}) DIV NULLIF(COUNT({c}), 0) AS BIGINT)"


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
    """`_AVG_OF_AVG` over `col` as a Column."""
    return F.expr(_AVG_OF_AVG.format(c=col))


@dataclass(frozen=True)
class SpikeShape:
    """The identifiers of one spike-detection domain — the only
    non-marker text a spike statement contains, fixed in code.

    keys    the fused grouping key, in output order
    entity  the key rolled up into buckets (the /32 address)
    bucket  SQL expression over `entity`: the bucket's base value
    value   the counter averaged per window
    time    the timestamp the window bounds apply to
    now     a column of the input holding a data-derived `now`; the
            windows are then `now - :cur_span` / `now - :prev_span`.
            None: the bounds are the markers `:cur_lower` /
            `:prev_upper`.
    """

    keys: tuple[str, ...]
    entity: str
    bucket: str
    value: str
    time: str
    now: str | None = None


def _integral(df: DataFrame, col: str) -> bool:
    return isinstance(df.schema[col].dataType, IntegralType)


def _id(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _fused_cte(shape: SpikeShape, integral: bool) -> str:
    """S1+S3+S4: `fused` holds, per key seen in EITHER window,
        sum_val       cur avg (NULL when the key has no current rows)
        prev_sum_val  raw prev avg (NULL when absent)
        prev_sum_val2 clamped/defaulted baseline (S3/S4): a drop past
                      Q clamps to `:limit_new` only when prev exceeds
                      `:limit_new` (the /32 guard); the unguarded /24
                      clamp lives in `_alert_ctes`
    — both windows from ONE conditional aggregation: one scan, one
    shuffle, no join (keys missing from the previous window surface as
    prev_n = 0 -> the S4 default, exactly like a left-join miss).

    The averages are exact floors. An integral `value` is summed as
    BIGINT and floored as `(s - pmod(s, n)) DIV n` (DIV truncates
    toward zero; subtracting the non-negative remainder first makes it
    a floor for negative sums too): exact while a key's window sum fits
    a BIGINT, where a DECIMAL(18,6) cast turns any sample of 10^12 or
    more into NULL. A fractional one keeps the exact decimal path
    (functions/exact.py semantics). The value's type picks the
    fragment; both are fixed text.
    """
    keys = ", ".join(map(_id, shape.keys))
    t = _id(shape.time)
    if integral:
        v = f"CAST({_id(shape.value)} AS BIGINT)"
        floor = "({s} - pmod({s}, {n})) DIV {n}"
    else:
        v = f"CAST({_id(shape.value)} AS DECIMAL(18,6))"
        floor = "CAST(FLOOR({s} / {n}) AS BIGINT)"
    if shape.now is None:
        lo, hi = ":cur_lower", ":prev_upper"
    else:
        lo, hi = f"{_id(shape.now)} - :cur_span", f"{_id(shape.now)} - :prev_span"
    cur = floor.format(s="_cur_sum", n="_cur_n")
    prev = floor.format(s="_prev_sum", n="_prev_n")
    return f"""_sums AS (
  SELECT {keys},
         SUM(CASE WHEN {t} > {lo} THEN {v} END) AS _cur_sum,
         SUM(CASE WHEN {t} > {lo} THEN 1 ELSE 0 END) AS _cur_n,
         SUM(CASE WHEN {t} < {hi} THEN {v} END) AS _prev_sum,
         SUM(CASE WHEN {t} < {hi} THEN 1 ELSE 0 END) AS _prev_n
  FROM {{src}} GROUP BY {keys}),
_avgs AS (
  SELECT {keys},
         CASE WHEN _cur_n > 0 THEN {cur} END AS sum_val,
         CASE WHEN _prev_n > 0 THEN {prev} END AS prev_sum_val
  FROM _sums),
fused AS (
  SELECT {keys}, sum_val, prev_sum_val,
         CASE WHEN sum_val IS NOT NULL THEN COALESCE(
           CASE WHEN prev_sum_val / NULLIF(sum_val, 0) > :q
                 AND prev_sum_val > :limit_new
                THEN :limit_new ELSE prev_sum_val END,
           :limit_new) END AS prev_sum_val2
  FROM _avgs WHERE sum_val IS NOT NULL OR prev_sum_val IS NOT NULL)"""


def _alert_ctes(shape: SpikeShape) -> str:
    """S2-S7 over `fused`: per-entity and per-bucket alerts as ONE
    grouped aggregate, so `fused` has a single reader.

    `buckets` groups `fused` once by (*group, bucket). Per bucket it
    yields the avg-of-avg of the current (`_cur`) and of the previous
    (`_prev`) window (S2; NULL when the bucket has no such keys) and
    the list of entity alerts passing S6 against their clamped
    baseline. The bucket value is then compared without the clamp
    guard and with `:limit_new_net` as the new-bucket baseline (S3-S5),
    filtered (S6), and emitted with the entity alerts through one
    explode (S7) — no self-join, no union.

    `alerts` is (*group, sum_val, <entity>, scope): `sum_val` is the
    BASELINE (hha.py:199,210), bucket rows carry the bucket value in
    the entity column (hha.py:213-214), and `scope` is
    `:scope_entity` for entity rows and `:scope_bucket` for bucket
    rows (S7).
    """
    group = [_id(k) for k in shape.keys if k != shape.entity]
    g = "".join(f"{c}, " for c in group)
    e = _id(shape.entity)

    def alert(baseline: str, entity: str, scope: str) -> str:
        return f"named_struct('sum_val', {baseline}, '{shape.entity}', {entity}, 'scope', {scope})"

    return f"""buckets AS (
  SELECT {g}{shape.bucket} AS _bucket,
         {_AVG_OF_AVG.format(c="sum_val")} AS _cur,
         {_AVG_OF_AVG.format(c="prev_sum_val")} AS _prev,
         -- collect_list skips the NULLs of keys that do not alert
         collect_list(CASE WHEN sum_val / NULLIF(prev_sum_val2, 0) > :q
                           THEN {alert("prev_sum_val2", e, ":scope_entity")} END) AS _alerts
  FROM fused GROUP BY {g}{shape.bucket}),
_baselines AS (
  SELECT *, COALESCE(CASE WHEN _prev / NULLIF(_cur, 0) > :q
                          THEN :limit_new_net ELSE _prev END,
                     :limit_new_net) AS _base
  FROM buckets),
alerts AS (
  SELECT {g}_a.sum_val, _a.{e}, _a.scope FROM (
    SELECT {g}explode(concat(_alerts, array(
             CASE WHEN _cur / NULLIF(_base, 0) > :q
                  THEN {alert("_base", "_bucket", ":scope_bucket")} END))) AS _a
    FROM _baselines)
  WHERE _a IS NOT NULL)"""


def spike_statement(shape: SpikeShape, *, integral: bool, tail: str) -> str:
    """The S1-S7 CTE chain (`fused`, `buckets`, `alerts`) over the view
    `{src}`, finished by `tail` — a fixed SELECT over those CTEs. The
    text holds identifiers from `shape` and named parameter markers
    only, so it is the same string for every `now` and every
    threshold."""
    return f"WITH {_fused_cte(shape, integral)},\n{_alert_ctes(shape)}\n{tail}"


def run_spike_statement(
    df: DataFrame,
    shape: SpikeShape,
    tail: str,
    args: Mapping[str, object],
    frames: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """`spike_statement` over `df` (the `{src}` view) and `frames`, with
    `args` bound to its parameter markers."""
    return sql_over_views(
        df.sparkSession,
        spike_statement(shape, integral=_integral(df, shape.value), tail=tail),
        {"src": df, **(frames or {})}, args=dict(args),
    )


def fused_window_compare(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    value_col: str,
    time_col: str,
    cur_lower: int,
    prev_upper: int,
    q: float,
    limit_new: int,
) -> DataFrame:
    """The statement's `fused` CTE alone (S1+S3+S4, see `_fused_cte`)
    over `df` with integer window bounds: per key seen in either
    window, (*key_cols, sum_val, prev_sum_val, prev_sum_val2)."""
    shape = SpikeShape(tuple(key_cols), key_cols[-1], "", value_col, time_col)
    return sql_over_views(
        df.sparkSession,
        f"WITH {_fused_cte(shape, _integral(df, value_col))}\nSELECT * FROM fused",
        {"src": df},
        args={"cur_lower": cur_lower, "prev_upper": prev_upper, "q": q,
              "limit_new": limit_new},
    )


# the histogram fact table's identifiers
HISTOGRAM_SHAPE = SpikeShape(
    keys=("num_protocol", "type_proto", "dst_ip"),
    entity="dst_ip",
    bucket=f"`dst_ip` & {_NET24_MASK}",
    value="CountPkt",
    time="timestamp",
)
_GATE = " LEFT SEMI JOIN {zones} z ON a.dst_ip = z.ip"
_DEDUP = (
    " LEFT ANTI JOIN (SELECT num_protocol, type_proto, dst_ip FROM {prior}"
    " WHERE detected_at > :ttl_cut) r"
    " ON a.num_protocol = r.num_protocol AND a.type_proto = r.type_proto"
    " AND a.dst_ip = r.dst_ip"
)


def _detect_tail(gated: bool, deduped: bool) -> str:
    """S8 as fixed text: each present gate is a broadcast join."""
    hinted = [a for a, on in (("z", gated), ("r", deduped)) if on]
    hint = f"/*+ BROADCAST({', '.join(hinted)}) */ " if hinted else ""
    return (
        f"SELECT {hint}a.num_protocol, a.type_proto, a.sum_val, a.dst_ip,"
        " a.scope FROM alerts a"
        + (_GATE if gated else "")
        + (_DEDUP if deduped else "")
    )


def detect_spikes(
    histograms: DataFrame,
    *,
    params: DetectorParams,
    now: int,
    zones: DataFrame | None = None,
    prior_alerts: DataFrame | None = None,
) -> DataFrame:
    """Full S1-S8 detection cycle over the histogram fact table, as
    ONE parameterized SQL statement (`spike_statement` over
    `HISTOGRAM_SHAPE` plus the S8 tail). Nothing is persisted: the
    fact data is scanned once per action.

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
    the network *base address* itself is watchlisted). None: no
    gating.
    prior_alerts: optional DataFrame with (num_protocol, type_proto,
    dst_ip, detected_at) — alerts already raised within
    `limit_detect_time_sec` are suppressed by a broadcast anti-join
    (hha.py:234-244). None: no dedup.
    """
    p = params
    frames = {}
    args = {
        "cur_lower": now - p.cur_window_sec,
        "prev_upper": now - p.prev_window_sec,
        "q": p.quotient_amplification,
        "limit_new": p.limit_new_data,
        "limit_new_net": p.limit_new_data_net,
        "scope_entity": "ip",
        "scope_bucket": "net",
    }
    if zones is not None:
        frames["zones"] = zones
    if prior_alerts is not None:
        frames["prior"] = prior_alerts
        args["ttl_cut"] = now - p.limit_detect_time_sec
    return run_spike_statement(
        histograms, HISTOGRAM_SHAPE,
        _detect_tail(zones is not None, prior_alerts is not None), args, frames,
    )
