"""Physical-plan regression tests: the optimizations we rely on must
stay in the plan (pushdown, pruning, broadcast joins), not just in
the commit message."""

from __future__ import annotations

import hha_spark.queries.relational as R
import hha_spark.queries.spike_events as S


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = plan_of(R.q1_pricing_summary(spark, "/root/testdata/sf0.01"))
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # the 11-column table is read as only the 7 needed columns
    import re

    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m and len(m.group(1).split(",")) <= 7


def test_top_revenue_join_is_broadcast(spark):
    plan = plan_of(R.top_revenue_orders(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fused_spike_plan_has_single_fact_aggregation(spark):
    plan = plan_of(S.spike_events_compare(spark, "/root/testdata/sf0.01"))
    # one scan of events (plus the 1-row bounds agg side), broadcast
    # for the bounds join, and no sort-merge anywhere
    assert plan.count("FileScan parquet") == 2  # fact scan + bounds scan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_stays_semi(spark):
    plan = plan_of(R.suppliers_in_rich_nations(spark, "/root/testdata/sf0.01"))
    assert "LeftSemi" in plan


def test_quartiles_have_no_global_window(spark):
    """customer_balance_quartiles must not funnel the table through a
    single-partition Window (a global ntile would). Every Window node
    in the plan needs a partition spec: partitioned nodes print
    `Window [funcs], [partCols], [orderCols]` (two `], [` separators),
    unpartitioned only one."""
    import hha_spark.queries.relational2 as R2

    plan = plan_of(R2.customer_balance_quartiles(spark, "/root/testdata/sf0.01"))
    assert "ntile" not in plan
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert windows, "expected a partitioned Window for the local rank"
    for ln in windows:
        assert ln.count("], [") >= 2, f"unpartitioned Window in plan: {ln}"


def test_q3_q5_join_shapes(spark):
    """Multi-way joins must stay broadcast (all dimension sides are
    small) and Q3's top-10 must compile to TakeOrderedAndProject, not
    a global sort."""
    import hha_spark.queries.relational3 as R3

    p3 = plan_of(R3.q3_shipping_priority(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in p3
    assert p3.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in p3

    p5 = plan_of(R3.q5_local_supplier_volume(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in p5
    assert p5.count("BroadcastHashJoin") >= 5


def test_subquery_family_join_shapes(spark):
    """The decorrelated TPC-H subquery family must keep its intended
    physical shapes: EXISTS -> broadcast LeftSemi, NOT EXISTS ->
    broadcast LeftAnti, scalar subquery -> broadcast 1-row join,
    HAVING-semi-join top-k -> TakeOrderedAndProject. No sort-merge
    join anywhere at this scale (every non-fact side is broadcastable)."""
    import hha_spark.queries.relational4 as R4

    sf = "/root/testdata/sf0.01"
    p4 = plan_of(R4.q4_priority_returns(spark, sf))
    assert "LeftSemi" in p4 and "SortMergeJoin" not in p4

    p7 = plan_of(R4.q7_volume_shipping(spark, sf))
    assert p7.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p7

    p17 = plan_of(R4.q17_small_quantity_revenue(spark, sf))
    assert "LeftSemi" in p17 and "SortMergeJoin" not in p17

    p18 = plan_of(R4.q18_large_volume_customers(spark, sf))
    assert "TakeOrderedAndProject" in p18
    assert "SortMergeJoin" not in p18

    p22 = plan_of(R4.q22_inactive_rich_customers(spark, sf))
    assert "LeftAnti" in p22 and "SortMergeJoin" not in p22


def test_gated_alerts_gates_are_broadcast(spark):
    """S8 gating must not shuffle the alert stream: watchlist gate is a
    broadcast LeftSemi, TTL dedup a broadcast LeftAnti."""
    plan = plan_of(S.spike_events_gated(spark, "/root/testdata/sf0.01"))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_broadcasts_benchmark_grams(spark):
    """The training side must never shuffle: the (small) benchmark
    gram set broadcasts into the training postings."""
    import hha_spark.queries.llm_ops as L

    plan = plan_of(L.benchmark_contamination(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_resample_windows_are_key_partitioned(spark):
    """Both resample windows (last-in-bucket pick, forward fill) must
    be partitioned — a global Window would serialize the series."""
    import hha_spark.queries.temporal as T

    plan = plan_of(T.events_resample_daily(spark, "/root/testdata/sf0.01"))
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert windows, "expected partitioned Windows in the resample plan"
    for ln in windows:
        assert ln.count("], [") >= 2, f"unpartitioned Window in plan: {ln}"


def test_relational6_shapes(spark):
    """The TPC-H completion batch keeps its promised plans: Q6 is a
    pure scan-aggregate (no joins at all), Q19's part side broadcasts
    with the disjunctive residual post-join, and Q15's max-revenue
    probe rides a broadcast, never a sort-merge join."""
    import hha_spark.queries.relational6 as R6

    sf = "/root/testdata/sf0.01"
    q6 = plan_of(R6.q6_forecast_revenue(spark, sf))
    assert "Join" not in q6
    assert "PushedFilters" in q6 and "l_discount" in q6

    q19 = plan_of(R6.q19_disjunctive_revenue(spark, sf))
    assert "BroadcastHashJoin" in q19
    assert "SortMergeJoin" not in q19

    q15 = plan_of(R6.q15_top_supplier(spark, sf))
    assert "SortMergeJoin" not in q15


def test_topk_window_uses_group_limit(spark):
    """rank<=k over a window must compile to WindowGroupLimit on BOTH
    sides of the exchange (partial top-k before the shuffle) — the
    optimization that keeps per-group top-k from sorting whole groups
    at scale. Regression guard: a query restructure that breaks the
    rank-filter pattern silently loses it."""
    plan = plan_of(R.top3_customers_per_nation(spark, "/root/testdata/sf0.01"))
    assert plan.count("WindowGroupLimit") == 2


def test_chunking_is_shuffle_free(spark):
    """doc_chunking must stay a narrow map over the scan — chunking
    100 TB is linear and partition-local or it's wrong. No Exchange,
    no Join in the plan (the single AQE root note aside)."""
    import hha_spark.queries.llm_ops as L

    plan = plan_of(L.doc_chunking(spark, "/root/testdata/sf0.01"))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" in plan  # the posexplode


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """When the probe side is too big to broadcast, Spark's runtime
    bloom-filter injection (on by default since 3.4) builds a bloom
    filter from the selective build side and pushes might_contain()
    into the fact scan — the semi-join-reduction mechanism that makes
    a 100 TB shuffle join skip most fact rows. Pin that it actually
    fires on our data layout once the size thresholds reflect
    cluster-scale inputs (the local fixture is far below the 10 GB
    default application-side threshold, so the test lowers it; a real
    deployment hits it naturally)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        od = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = plan_of(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cosine_kernel_is_narrow(spark):
    """The exact cosine kernel must stay a narrow in-row fold: no
    element explode (Generate) and no per-pair aggregation between
    attaching the vectors and emitting the cosine. The only wide ops
    in embedding_cosine_pairs downstream of candidate generation are
    the two vector-attach joins."""
    import hha_spark.queries.llm_ops as L

    plan = plan_of(L.embedding_cosine_pairs(spark, "/root/testdata/sf0.01"))
    # posexplode of the embedding array would print as Generate
    assert "posexplode" not in plan
    # brute-force all-pairs compare: since the Arrow kernel switch
    # (cosine_pairs_arrow) the query side is closed over by a
    # mapInPandas — the candidate scan carries NO join node at all,
    # and certainly no shuffled cross product
    p_topk = plan_of(L.ann_topk_cosine(spark, "/root/testdata/sf0.01"))
    assert "posexplode" not in p_topk
    assert "MapInPandas" in p_topk
    assert "CartesianProduct" not in p_topk


def test_srp_signatures_are_shuffle_free(spark):
    """Random-hyperplane signatures (hyperplane_bands) are a narrow
    projection + band explode: the plan up to the banding frame has
    no aggregate and no join — the sign matrix is inlined as
    literals, not joined."""
    from hha_spark.operators.similarity import (
        hyperplane_bands,
        hyperplane_planes,
    )
    from hha_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings", fanout=False)
    plan = plan_of(hyperplane_bands(emb, hyperplane_planes(spark)))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_ivf_candidate_join_broadcasts_probe_side(spark):
    """The IVF candidate join keys on the k-valued (skewed) cell id;
    the tiny probe frame must BROADCAST so the assignment side never
    shuffles on it, and the probe lists must come from the cached
    Lloyd frame (InMemoryTableScan), not a re-run of the Python
    kernel inside the broadcast subplan."""
    from pyspark.sql import functions as F

    from hha_spark.operators.ivf import ivf_topk
    from hha_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    plan = plan_of(
        ivf_topk(emb, query_pred=(F.col("vec_id") % 16 == 0), k=3, nprobe=2)
    )
    assert "BroadcastHashJoin [cell" in plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_semantic_prune_centroids_broadcast(spark):
    """SemDeDup's per-cell centroid table must BROADCAST back onto the
    vector frame (16 rows vs the corpus), and the cosine fold must be
    a narrow in-row computation — no sort-merge join, no per-vector
    element aggregation after the centroid attach."""
    from hha_spark.operators.semantic import semantic_prune
    from hha_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    plan = plan_of(semantic_prune(emb))
    assert "BroadcastHashJoin [cell" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_scoring_broadcasts_lut(spark):
    """PQ pair scoring must ride the broadcast LUT (BroadcastNestedLoop
    for the bounded query side), never a shuffled cross product, and
    the candidate side must stay un-exploded: the only Generates in
    the plan belong to the codebook/LUT build, which aggregates to
    M*CELLS rows before the join."""
    from pyspark.sql import functions as F

    from hha_spark.operators.pq import pq_topk
    from hha_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    plan = plan_of(pq_topk(emb.where(F.col("vec_id") % 16 == 0), emb, k=5))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_semi_join_and_broadcast_total(spark):
    """Boilerplate coverage: occurrences are filtered by a LEFT SEMI
    join on the fixed-width gram_key, and the corpus-size threshold
    rides a broadcast one-row frame — no count_distinct Expand node
    anywhere (document frequency is a two-level plain aggregate)."""
    from hha_spark.operators.corpus import boilerplate_coverage
    from hha_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    plan = plan_of(boilerplate_coverage(docs, k=3, min_docs_pct=1))
    assert "LeftSemi" in plan
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan


def test_events_salted_join_plan_shows_salted_shape(spark):
    """The events_salted_join gate must actually run the salted plan:
    the join condition carries the _salt column (key+salt equi-join),
    the dimension side is replicated via an explode Generate, and no
    plain single-key join sneaks in."""
    from hha_spark.queries.temporal import events_salted_join

    plan = plan_of(events_salted_join(spark, "/root/testdata/sf0.001"))
    assert "_salt" in plan  # salt participates in the join keys
    assert "Generate explode" in plan  # replicated small side
    assert "CartesianProduct" not in plan


def test_bm25_prunes_postings_below_tf_aggregate(spark):
    """The query-term semi-join must sit BELOW the (doc, tok) tf
    aggregate — the full corpus never flows through a wide aggregate
    keyed by every distinct term (the round-5 pushdown; flat 1.2x at
    64x rows in the scale probe rests on this)."""
    from hha_spark.queries.scoring import text_bm25_topk

    plan = plan_of(text_bm25_topk(spark, "/root/testdata/sf0.001"))
    semi = plan.find("BroadcastHashJoin")
    assert semi != -1 and "LeftSemi" in plan
    # the first (innermost-printed last) HashAggregate keyed by
    # (doc_id, tok) must appear ABOVE the semi-join in the plan tree:
    # in toString() parents print before children, so the aggregate's
    # first occurrence must come before the semi-join's
    agg = plan.find("HashAggregate")
    assert agg != -1 and agg < plan.find("LeftSemi")


def test_containment_candidates_join_on_hashed_keys(spark):
    """Candidate generation shuffles 8-byte xxhash64 keys, never the
    shingle strings, and the final pair join carries no cartesian."""
    from hha_spark.queries.llm_ops import dedup_containment

    plan = plan_of(dedup_containment(spark, "/root/testdata/sf0.001"))
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_skew_report_uses_take_ordered_not_global_sort(spark):
    """Top-k hottest keys must come from TakeOrderedAndProject (a
    per-partition heap + k-row driver merge), never a full global
    sort of the key-count table."""
    from hha_spark.queries.relational5 import dq_events_key_skew

    plan = plan_of(dq_events_key_skew(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan


def test_temperature_mixture_broadcasts_totals(spark):
    """The 1-row totals join must be broadcast (hash or nested-loop on
    the single row), never sort-merge; no Python eval anywhere."""
    from hha_spark.operators.corpus import temperature_mixture
    from hha_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    plan = plan_of(temperature_mixture(docs))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_budget_fill_windows_are_source_partitioned(spark):
    """Both window functions (rank + running sum) must be partitioned
    by source — a global window would single-thread the corpus."""
    from hha_spark.operators.corpus import token_budget_fill
    from hha_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    plan = plan_of(token_budget_fill(docs))
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert windows, "expected the per-source rank/cumsum Window"
    for ln in windows:
        assert ln.count("], [") >= 2, f"unpartitioned Window: {ln}"
    assert "SortMergeJoin" not in plan


def test_ccnet_buckets_windows_are_lang_partitioned(spark):
    """The tercile rank/count windows must be per-language, and the
    unigram scoring below them must keep its broadcast head join."""
    from hha_spark.operators.text import perplexity_buckets
    from hha_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    plan = plan_of(perplexity_buckets(docs))
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert windows, "expected the per-language Window"
    for ln in windows:
        # windowspecdefinition(lang..., ...) == partitioned by lang
        # (a no-ORDER-BY count window prints only one `], [`, so the
        # separator-count heuristic used elsewhere misreads it)
        assert "windowspecdefinition(lang" in ln, f"unpartitioned: {ln}"
    assert "BroadcastHashJoin" in plan  # head-vocabulary join


def _small_detector_store(spark, tmp_path, now, ip):
    """A three-row histogram store with one alerting key, and an alerts
    table holding one alert raised 10 s before `now`."""
    from hha_spark.schemas import HISTOGRAM_SCHEMA
    from hha_spark.sinks.alerts import append_alerts
    from hha_spark.sources.histograms import write_partitioned

    hist_path = str(tmp_path / "histograms")
    alerts_path = str(tmp_path / "alerts")
    write_partitioned(
        spark.createDataFrame(
            [
                (now - 10, 1, 1, 11, 9000, ip),
                (now - 400, 1, 1, 11, 100, ip),
                (now - 10, 1, 2, 41, 50, 174327555),
            ],
            HISTOGRAM_SCHEMA,
        ),
        hist_path,
    )
    rule = {"num_protocol": 2, "type_proto": 41, "sum_val": 1,
            "dst_ip": "10.100.7.3", "scope": "ip"}
    append_alerts(spark, [rule], alerts_path, detected_at=now - 10, ttl_sec=300)
    return hist_path, alerts_path


def test_detect_spikes_scans_fact_data_once(spark, tmp_path):
    """The detector cycle is one linear plan: one scan of the fact
    data, nothing persisted, no union, no sort-merge join, no
    cartesian product. Its joins are the two broadcast S8 gates and
    the one-row clock, joined to the fact rows and to the alerts
    table: one LocalTableScan broadcast once, its second reader reusing
    the broadcast. A run_cycle leaves the block manager's pinned RDDs
    as it found them."""
    from hha_spark.caching import pinned_rdd_count, release_tracked
    from hha_spark.config import DetectorParams
    from hha_spark.detector import cycle_window, run_cycle
    from hha_spark.operators.spike import detect_spikes
    from hha_spark.sinks.alerts import recent_alerts
    from hha_spark.sources.histograms import read_window
    from hha_spark.sources.watchlist import zones_from_ints

    now = 1_700_000_000
    ip = 174327308
    hist_path, alerts_path = _small_detector_store(spark, tmp_path, now, ip)
    lower, upper = cycle_window(now, DetectorParams())
    alerts = detect_spikes(
        read_window(spark, hist_path, lower=lower, upper=upper),
        params=DetectorParams(), now=now,
        zones=zones_from_ints(spark, [ip]),
        prior_alerts=recent_alerts(spark, alerts_path),
    )
    optimized = alerts._jdf.queryExecution().optimizedPlan().toString()
    # the final adaptive plan, where the clock's broadcast is reused
    assert len(alerts.collect()) == 1
    plan = plan_of(alerts)
    final = plan[plan.index("== Final Plan =="):plan.index("== Initial Plan ==")]

    # the fact scan (the one reading CountPkt) plus the alerts table
    scans = [ln for ln in final.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 2
    assert sum("CountPkt" in ln for ln in scans) == 1
    assert "InMemoryRelation" not in optimized
    assert "Union" not in optimized
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    joins = [ln.strip() for ln in optimized.splitlines() if "Join " in ln]
    assert len(joins) == 4, joins
    assert sum("LeftSemi" in j for j in joins) == 1
    assert sum("LeftAnti" in j for j in joins) == 1
    assert sum("Inner" in j for j in joins) == 2
    assert all("broadcast" in j for j in joins)
    assert final.count("BroadcastHashJoin") == 2
    assert final.count("BroadcastNestedLoopJoin") == 2
    clock = [ln for ln in final.splitlines() if "LocalTableScan [_now" in ln]
    assert len(clock) == 1, clock
    assert final.count("ReusedExchange [_now") == 1

    # run_cycle releases tracked persists at its end: release the ones
    # earlier tests left first, so the counts compare this cycle alone
    release_tracked()
    pinned = pinned_rdd_count(spark)
    rules = run_cycle(
        spark, data_root=hist_path, alerts_path=alerts_path,
        params=DetectorParams(), zones=zones_from_ints(spark, [ip]), now=now,
    )
    assert len(rules) == 1
    assert pinned_rdd_count(spark) == pinned


def test_warm_detector_cycle_compiles_nothing(spark, tmp_path):
    """`now` reaches the cycle's plan only as the clock's data, so the
    generated code of every stage is the same from cycle to cycle: the
    third of three cycles 10 s apart finds every class in the codegen
    cache and compiles none. A `now`-derived literal anywhere in the
    plan (a row bound, a window bound, the TTL cut) makes it compile
    again."""
    from hha_spark.config import DetectorParams
    from hha_spark.detector import run_cycle
    from hha_spark.sources.watchlist import zones_from_ints

    now = 1_700_000_000
    ip = 174327308
    hist_path, alerts_path = _small_detector_store(spark, tmp_path, now, ip)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = []
    for t in (now, now + 10, now + 20):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        run_cycle(
            spark, data_root=hist_path, alerts_path=alerts_path,
            params=DetectorParams(), zones=zones_from_ints(spark, [ip]), now=t,
        )
        compiled.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[2] == 0, compiled
