"""Registry of driver-facing queries and their DuckDB oracles.

Each module contributes (name -> callable(spark, sf_dir) -> DataFrame)
and (name -> ANSI SQL string). The driver runs both at sf0.01 and
hash-compares row values, so every computed column is aliased to the
same name on both sides and all arithmetic is cross-engine
deterministic (see functions/exact.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hha_spark.queries import (
    corpus,
    curation,
    embedding_ops,
    llm_ops,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    scoring,
    sketches,
    spike_events,
    streaming_gate,
    temporal,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = (
    llm_ops,
    streaming_gate,
    temporal,
    corpus,
    relational6,
    relational7,
    spike_events,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    # round-4 additions sit LAST: the driver's round-4 window is
    # reserved for the never-checked 50; these (plus dq_orders_report,
    # position 51) rotate to the front in round 5
    curation,
    sketches,
    scoring,
    embedding_ops,
)

# Order is the driver's verification window: it oracle-checks the FIRST
# 50 names yielded. Round-11 rotation (the r10 verdict's "Next round"
# #1, plus this round's code-touched surface): position 1 is the
# round-11 NEW gate `stream_curation_spilled` (the label-spill scale
# fix under the batch oracle). Positions 2-15 are the
# gates whose RESULT VALUES changed this round — the MinHash kernel
# now derives its 8 hash families as 8-hex-char slices of 2 salted
# md5 digests (operators/dedup.py::minhash_signatures, 4x fewer md5
# invocations; the oracle's _SIG_COLS mirrors the identical
# expression), so every oracle-gated MinHash consumer needs a fresh
# driver row. Positions 16-17: the two remaining consumers of the
# gopher selectExpr rewrite (values identical, plan-construction
# only; the funnel gates already sit in the front). Positions 18-26:
# the nine r6-vintage rows the r10 verdict ordered first (4 rounds
# stale, text.py touched again this round). Positions 27-31: the
# five PQ-LUT/IVF-consumer ann gates whose operators/pq.py / ivf.py
# changed after their r9 rows froze. Positions 32-35: the four
# spike_events_* parity rows (r9-vintage; also re-adjudicates the
# r10 control sweep's 1.4x blip — verdict finding #3). Positions
# 36-49: the r7-vintage tail in name order (first 14 of 48; the
# rest rotate in r12); position 50 is the first name in module order.
# Names here that fall out of the registry are ignored defensively;
# queries not listed follow in module order.
_NEVER_CHECKED_FIRST = (
    # -- the round-11 NEW gate (label-spill path under the oracle) --
    "stream_curation_spilled",
    # -- 14 minhash-result-changed gates (sliced-digest kernel) --
    "stream_curation_compacted", "stream_curation_funnel",
    "corpus_curation_pipeline", "dedup_minhash_lsh",
    "dedup_minhash_recall", "dedup_incremental",
    "dedup_quality_survivors", "dedup_canonical_pick",
    "dedup_clusters", "dedup_graph_pagerank",
    "dedup_graph_triangles", "dedup_text_embedding_drift",
    "pretraining_corpus_selection", "stream_dedup_incremental",
    # -- 2 gopher plan-rewrite consumers (values unchanged) --
    "text_gopher_quality", "quality_gate_agreement",
    # -- 9 r6-vintage rows (oldest in the registry; r10 verdict #1) --
    "text_stats_docs", "text_langid", "text_quality",
    "text_token_count", "text_bigram_lm_score", "text_bm25_topk",
    "quality_classifier_trained", "multimodal_blob_stats",
    "multimodal_frame_sample",
    # -- 5 ann gates with post-freeze pq.py/ivf.py Arrow-frame rows --
    "ann_topk_pq", "ann_topk_ivfpq_residual", "ann_two_stage_rerank",
    "ann_topk_ivfpq", "ann_pq_recall",
    # -- 4 spike parity rows (r9-vintage + the control-sweep blip) --
    "spike_events_alerts", "spike_events_compare",
    "spike_events_gated", "spike_events_net_rollup",
    # -- r7-vintage tail, name order (15 of 48; rest rotate in r12) --
    "approx_stats", "avg_qty_per_part", "corpus_dsir_weights",
    "corpus_select_training", "corpus_train_val_test",
    "customer_balance_quartiles", "customer_name_features",
    "customer_order_stats", "customer_running_spend",
    "customer_window_suite", "customers_without_orders",
    "daily_activity_fulljoin", "dedup_survivors",
    "distinct_parts_per_flag",
)


def _ordered(full: dict) -> dict:
    first = {n: full[n] for n in _NEVER_CHECKED_FIRST if n in full}
    first.update(full)  # remaining names keep module order
    return first


def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return _ordered(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return _ordered(out)
