"""Cross-implementation equivalence properties: every optimized
formulation must equal its straightforward counterpart on random
inputs (the optimized plan is only valid if it's invisible)."""

from __future__ import annotations

import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hha_spark.config import DetectorParams
from hha_spark.functions.ip import ip_to_net24
from hha_spark.operators.dedup import jaccard_pairs, with_token_set
from hha_spark.operators.spike import (
    SpikeShape,
    detect_spikes,
    rollup_averages,
    run_spike_statement,
    window_averages,
)
from hha_spark.operators.temporal import asof_join
from hha_spark.schemas import HISTOGRAM_SCHEMA

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

NOW = 1_000_000


# --- the two-frame reference: one frame per window, joined ----------------


def _safe_ratio(num, den):
    return num / F.nullif(den, F.lit(0))


def compare_windows(cur, prev, *, key_cols, q, limit_new, clamp_guard,
                    value_col="sum_val"):
    """S3/S4/S5 — left-join current against previous, clamp drops,
    default new keys.

    Output columns: key_cols + [value_col, prev_sum_val, prev_sum_val2].

    * left join on the full key (hha.py:170,184).
    * drop-clamp: if prev/cur > q the baseline is clamped down to
      `limit_new` so recovery-to-normal still triggers. The /32 branch
      additionally requires prev > limit_new (hha.py:191-192); the /24
      branch does NOT (hha.py:177-178) — `clamp_guard` selects which.
    * new keys (join miss) get prev = prev2 = limit_new
      (na.fill, hha.py:179,194).
    """
    prev_renamed = prev.withColumnRenamed(value_col, "prev_sum_val")
    joined = cur.join(prev_renamed, on=list(key_cols), how="left")
    clamp_cond = _safe_ratio(F.col("prev_sum_val"), F.col(value_col)) > F.lit(q)
    if clamp_guard:
        clamp_cond = clamp_cond & (F.col("prev_sum_val") > F.lit(limit_new))
    return joined.select(
        *key_cols,
        F.col(value_col),
        F.coalesce(F.col("prev_sum_val"), F.lit(limit_new)).alias("prev_sum_val"),
        F.coalesce(
            F.when(clamp_cond, F.lit(limit_new)).otherwise(F.col("prev_sum_val")),
            F.lit(limit_new),
        ).alias("prev_sum_val2"),
    )


def spike_filter(compared, *, q, value_col="sum_val"):
    """S6 — keep rows whose cur/baseline ratio exceeds q (hha.py:198,209);
    a zero baseline yields a NULL ratio and the row drops."""
    return compared.where(
        _safe_ratio(F.col(value_col), F.col("prev_sum_val2")) > F.lit(q)
    )


# --- fused single-pass spike compare == two-frame formulation --------------

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),            # key
        st.integers(min_value=NOW - 3600, max_value=NOW),  # ts
        st.integers(min_value=0, max_value=10_000),        # value
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy)
@SET
def test_fused_equals_two_frame_compare(spark, rows):
    df = spark.createDataFrame(rows, "k long, ts long, v long")
    q, limit = 3, 500
    cur = window_averages(
        df, key_cols=["k"], value_col="v", time_col="ts",
        lower=NOW - 90, exact=True,
    )
    prev = window_averages(
        df, key_cols=["k"], value_col="v", time_col="ts",
        upper=NOW - 300, exact=True,
    )
    two_frame = {
        (r.k): (r.sum_val, r.prev_sum_val, r.prev_sum_val2)
        for r in compare_windows(
            cur, prev, key_cols=["k"], q=q, limit_new=limit, clamp_guard=True
        ).collect()
    }
    fused = {
        r.k: (r.sum_val, r.prev_sum_val if r.prev_sum_val is not None else limit,
              r.prev_sum_val2)
        # every marker is bound, the unread alert CTEs' too
        for r in run_spike_statement(
            df.withColumn("now", F.lit(NOW).cast("long")),
            SpikeShape(("k",), "k", "k", "v", "ts", "now"), "SELECT * FROM fused",
            {"cur_span": 90, "prev_span": 300, "q": q,
             "limit_new": limit, "limit_new_net": limit,
             "scope_entity": "ip", "scope_bucket": "net"},
        ).collect()
        if r.sum_val is not None  # two-frame output = cur keys only
    }
    assert fused == two_frame


# --- full S1-S7 detect_spikes == two-frame reference ------------------------

P = DetectorParams()
HIST_NOW = 1_700_000_000

hist_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),        # num_protocol
        st.sampled_from([11, 41]),                    # type_proto
        st.integers(174327296, 174327296 + 511),      # dst_ip (2 /24s)
        st.sampled_from([HIST_NOW - 10, HIST_NOW - 400]),  # cur or prev window
        st.integers(min_value=0, max_value=20_000),   # CountPkt
    ),
    min_size=1,
    max_size=30,
)


def two_frame_alerts(hist):
    """S1-S7 the reference's way: one frame per window, a /32 left
    join, and /24 rollups of each window frame."""
    keys = ["num_protocol", "type_proto", "dst_ip"]
    q = P.quotient_amplification
    cur = window_averages(
        hist, key_cols=keys, value_col="CountPkt",
        lower=HIST_NOW - P.cur_window_sec, exact=True,
    )
    prev = window_averages(
        hist, key_cols=keys, value_col="CountPkt",
        upper=HIST_NOW - P.prev_window_sec, exact=True,
    )
    ip_cmp = compare_windows(
        cur, prev, key_cols=keys, q=q, limit_new=P.limit_new_data,
        clamp_guard=True,
    )
    net24 = ip_to_net24("dst_ip")
    cur_net = rollup_averages(
        cur, group_cols=keys[:2], bucket_expr=net24, bucket_name="dst_net"
    )
    prev_net = rollup_averages(
        prev, group_cols=keys[:2], bucket_expr=net24, bucket_name="dst_net"
    )
    net_cmp = compare_windows(
        cur_net, prev_net, key_cols=["num_protocol", "type_proto", "dst_net"],
        q=q, limit_new=P.limit_new_data_net, clamp_guard=False,
    )
    return {
        (r.num_protocol, r.type_proto, r.prev_sum_val2, r.dst_ip, "ip")
        for r in spike_filter(ip_cmp, q=q).collect()
    } | {
        (r.num_protocol, r.type_proto, r.prev_sum_val2, r.dst_net, "net")
        for r in spike_filter(net_cmp, q=q).collect()
    }


@given(rows=hist_strategy)
@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_detect_spikes_equals_two_frame_reference(spark, rows):
    data = [(ts, 1, np_, tp, cnt, ip) for (np_, tp, ip, ts, cnt) in rows]
    hist = spark.createDataFrame(data, HISTOGRAM_SCHEMA)
    got = {
        (r.num_protocol, r.type_proto, r.sum_val, r.dst_ip, r.scope)
        for r in detect_spikes(hist, params=P, now=HIST_NOW).collect()
    }
    assert got == two_frame_alerts(hist)


# --- inverted-index jaccard == naive set arithmetic ------------------------

docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g"]),
        min_size=1, max_size=8,
    ),
    min_size=2,
    max_size=8,
)


@given(token_lists=docs_strategy)
@SET
def test_inverted_index_jaccard_equals_naive(spark, token_lists):
    docs = [(i, " ".join(toks), "blk") for i, toks in enumerate(token_lists)]
    df = with_token_set(
        spark.createDataFrame(docs, "doc_id long, text string, source string")
    )
    got = {
        (r.doc_id_a, r.doc_id_b): (r.inter_size, r.union_size)
        for r in jaccard_pairs(
            df, df, block_cols=["source"], threshold_num=1, threshold_den=2
        ).collect()
    }
    expected = {}
    sets = {i: set(t) for i, t in enumerate(token_lists)}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if 2 * inter >= union:
            expected[(a, b)] = (inter, union)
    assert got == expected


# --- asof join == naive per-row scan ---------------------------------------

asof_strategy = st.tuples(
    st.lists(  # left: (key, ts)
        st.tuples(st.integers(1, 3), st.integers(0, 100)),
        min_size=1, max_size=10,
    ),
    st.lists(  # right: (key, ts, value)
        st.tuples(st.integers(1, 3), st.integers(0, 100), st.integers(0, 999)),
        min_size=0, max_size=10,
    ),
)


@given(data=asof_strategy)
@SET
def test_asof_join_equals_naive(spark, data):
    left_rows, right_rows = data
    left_rows = [(k, t, i) for i, (k, t) in enumerate(left_rows)]
    right_rows = [(k, t, v, 1000 + i) for i, (k, t, v) in enumerate(right_rows)]
    left = spark.createDataFrame(left_rows, "k long, ts long, lid long")
    right = spark.createDataFrame(right_rows, "k long, r_ts long, val long, rid long")
    got = {
        r.lid: r.val
        for r in asof_join(
            left, right, by=["k"], left_ts="ts", right_ts="r_ts",
            value_cols=["val"], tie_col="rid",
        ).collect()
    }
    expected = {}
    for k, t, lid in left_rows:
        cands = [(rt, rid, v) for (rk, rt, v, rid) in right_rows if rk == k and rt <= t]
        expected[lid] = max(cands)[2] if cands else None
    assert got == expected
