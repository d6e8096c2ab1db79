"""Unit tests for the corpus-LM scoring / divergence / MAD operators
(operators/text.py::unigram_lm_scores, source_token_divergence;
operators/dq.py::robust_outlier_report)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hha_spark.operators.dq import robust_outlier_report
from hha_spark.operators.text import source_token_divergence, unigram_lm_scores


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_unigram_scores_hand_computed(spark):
    # corpus tf: a=3, b=2, z=1
    df = _docs(spark, [
        (1, "s1", "a a b"),
        (2, "s1", "a b z"),
    ])
    out = {
        r["doc_id"]: r
        for r in unigram_lm_scores(df).collect()
    }
    assert out[1]["n_tokens"] == 3
    assert out[1]["sum_tf"] == 3 + 3 + 2
    assert out[1]["min_tf"] == 2
    assert out[1]["avg_tf"] == 8 // 3
    # doc 2 carries the hapax z -> min_tf 1 (the garbage-token flag)
    assert out[2]["min_tf"] == 1
    assert out[2]["sum_tf"] == 3 + 2 + 1


def test_unigram_head_tail_split_is_invisible(spark):
    """head_k=0 (all tokens on the shuffle-join tail) and head_k=large
    (all broadcast) must produce identical rows — the skew split is a
    physical strategy, never a semantic one."""
    df = _docs(spark, [
        (i, f"s{i % 3}", f"tok{i % 7} tok{i % 5} tok{i % 7} filler")
        for i in range(40)
    ])
    all_tail = unigram_lm_scores(df, head_k=0).collect()
    all_head = unigram_lm_scores(df, head_k=10_000).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(all_tail, key=key) == sorted(all_head, key=key)


def test_divergence_single_source_is_zero(spark):
    df = _docs(spark, [(1, "only", "a b c"), (2, "only", "a a d")])
    row = source_token_divergence(df).collect()[0]
    assert row["l1_num"] == 0
    assert row["l1"] == 0.0


def test_divergence_disjoint_vocab_hand_computed(spark):
    # A: {x:2}, B: {y:2}; corpus T=4, x=2, y=2.
    # L1(A vs corpus) = |1-0.5| + |0-0.5| = 1.0
    df = _docs(spark, [(1, "A", "x x"), (2, "B", "y y")])
    out = {r["source"]: r for r in source_token_divergence(df).collect()}
    for grp in ("A", "B"):
        assert out[grp]["grp_tokens"] == 2
        assert out[grp]["l1_den"] == 2 * 4
        assert out[grp]["l1_num"] == 8
        assert out[grp]["l1"] == 1.0


def test_mad_outliers_hand_computed(spark):
    df = spark.createDataFrame(
        [("g", float(v)) for v in (1, 2, 3, 4, 100)]
        + [("h", float(v)) for v in (10, 10, 10)],
        "event_type string, value double",
    )
    out = {
        r["event_type"]: r
        for r in robust_outlier_report(
            df, group_col="event_type", value_col="value", k=3
        ).collect()
    }
    g = out["g"]
    assert (g["n"], g["med_value"], g["mad_value"]) == (5, 3.0, 1.0)
    assert g["n_outliers"] == 1  # only the 100 reading
    h = out["h"]
    # constant group: mad 0 -> nothing exceeds 3*0 strictly... except
    # nothing deviates at all
    assert (h["mad_value"], h["n_outliers"]) == (0.0, 0)


def test_mad_report_never_shuffles_fact_on_data_key(spark):
    """Both join sides of the fact scan are broadcast (the per-group
    stats frames); the only exchanges are the tiny grouped
    percentiles."""
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(50)],
        "event_type string, value double",
    )
    report = robust_outlier_report(
        df, group_col="event_type", value_col="value"
    )
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_merge_candidates_hand_computed(spark, tmp_path):
    """Adjacent-pair counting on a 2-doc corpus with a known answer."""
    import os
    from hha_spark.queries.scoring import bpe_merge_candidates

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    out = {
        (r["a"], r["b"]): r["cnt"]
        for r in bpe_merge_candidates(spark, str(tmp_path)).collect()
    }
    # doc1 pairs: (a,b) (b,a) (a,b) (b,c); doc2: (a,b) (b,x)
    assert out[("a", "b")] == 3
    assert out[("b", "a")] == 1
    assert out[("b", "c")] == 1
    assert out[("b", "x")] == 1
    assert len(out) == 4


def test_snapshot_diff_statuses(spark):
    """The diff classification over the real fixture: every status
    consistent with the deterministic derivation rules."""
    from hha_spark.queries.curation import corpus_snapshot_diff

    sf = "/root/testdata/sf0.001"
    rows = corpus_snapshot_diff(spark, sf).collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], []).append(r["doc_id"])
    # every 20th doc is absent from prev -> added (none are removed:
    # cur contains all docs)
    assert by_status["added"] and all(
        d % 20 == 0 for d in by_status["added"]
    )
    assert "removed" not in by_status
    # changed docs are exactly the revised ones not already 'added'
    assert by_status["changed"] and all(
        d % 7 == 0 and d % 20 != 0 for d in by_status["changed"]
    )
    n = len(rows)
    assert n == len(set(r["doc_id"] for r in rows))  # one row per doc


def test_dedup_rate_by_source_hand_computed(spark, tmp_path):
    """Corpus-wide group sizes attributed per source: a dup spanning
    two sources counts as duplicated in both."""
    import os
    from hha_spark.queries.scoring import corpus_dedup_rate_by_source

    docs = spark.createDataFrame(
        [
            (1, "s1", "same text"),
            (2, "s1", "same text"),
            (3, "s2", "same text"),
            (4, "s2", "unique a"),
            (5, "s2", "unique b"),
        ],
        "doc_id long, source string, text string",
    )
    docs.write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    out = {
        r["source"]: r
        for r in corpus_dedup_rate_by_source(spark, str(tmp_path)).collect()
    }
    assert (out["s1"]["n_docs"], out["s1"]["n_dup_docs"],
            out["s1"]["n_unique_fp"]) == (2, 2, 1)
    # doc 3 duplicates s1's content -> counted duplicated in s2 too
    assert (out["s2"]["n_docs"], out["s2"]["n_dup_docs"],
            out["s2"]["n_unique_fp"]) == (3, 1, 3)


def test_join_key_skew_report_hand_computed(spark):
    """9 keys x 1 row + key 99 x 21 rows: total=30, n_keys=10, mean=3.
    Key 99 (21 > 3*3) is skewed; every singleton key is not."""
    from hha_spark.operators.dq import join_key_skew_report

    rows = [(k,) for k in range(1, 10)] + [(99,)] * 21
    df = spark.createDataFrame(rows, "user_id long")
    out = {r.user_id: r for r in join_key_skew_report(df, "user_id").collect()}
    assert len(out) == 10
    hot = out[99]
    assert hot.cnt == 21 and hot.rnk == 1 and hot.skewed
    assert hot.total_rows == 30 and hot.n_keys == 10
    assert all(not r.skewed and r.cnt == 1 for k, r in out.items() if k != 99)
    # deterministic tie-break among the singletons: ascending key
    assert [r.user_id for r in sorted(out.values(), key=lambda r: r.rnk)][1:] \
        == list(range(1, 10))


def test_join_key_skew_top_k_bound(spark):
    from hha_spark.operators.dq import join_key_skew_report

    df = spark.createDataFrame([(k,) for k in range(100)], "k long")
    out = join_key_skew_report(df, "k", top_k=5).collect()
    assert sorted(r.k for r in out) == [0, 1, 2, 3, 4]


def test_bpe_train_merges_hand_computed(spark):
    """corpus: 'a b c', 'a b d', 'a b c'.
    step1: (a,b) cnt 3 -> merge. step2: (a@@b,c) cnt 2. step3:
    (a@@b,d) cnt 1."""
    from hha_spark.operators.text import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "a b c")],
        "doc_id long, text string",
    )
    out = [
        (r.step, r.a, r.b, r.cnt)
        for r in sorted(bpe_train_merges(docs, n_merges=3).collect())
    ]
    assert out == [
        (1, "a", "b", 3),
        (2, "a@@b", "c", 2),
        (3, "a@@b", "d", 1),
    ]


def test_bpe_train_merges_greedy_overlap(spark):
    """'a a a a': (a,a) counts all 3 adjacencies but greedy
    left-to-right application merges pairs 1-2 and 3-4 only, so the
    next round sees exactly one (a@@a, a@@a) adjacency — the classic
    BPE overlap semantics."""
    from hha_spark.operators.text import bpe_train_merges

    docs = spark.createDataFrame([(1, "a a a a")], "doc_id long, text string")
    out = [
        (r.step, r.a, r.b, r.cnt)
        for r in sorted(bpe_train_merges(docs, n_merges=2).collect())
    ]
    assert out == [(1, "a", "a", 3), (2, "a@@a", "a@@a", 1)]


def test_bpe_apply_compression_hand_computed(spark):
    """merges [(a,b), (a@@b,c)] on 'a b c d': 'a@@b@@c d' -> 4
    tokens down to 2; 'x y' untouched."""
    from hha_spark.operators.text import bpe_apply

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_base, r.n_merged)
        for r in bpe_apply(docs, [("a", "b"), ("a@@b", "c")]).collect()
    }
    assert out == {1: (4, 2), 2: (2, 2)}


# ---------------------------------------------------------------------------
# Trained quality classifier (operators/quality.py)
# ---------------------------------------------------------------------------


def _py_train(texts, n_buckets, steps, lr_den, bias, thresh):
    """Sequential pure-Python reference of the fixed-point trainer:
    exact ints end-to-end, mirrors operators/quality.py semantics."""
    import hashlib

    def bucket(tok):
        h = hashlib.md5(("qc|" + tok).encode()).hexdigest()[:8]
        return int(h, 16) % n_buckets

    def tdiv(a, d):
        q = abs(a) // d
        return -q if a < 0 else q

    docs = []
    for text in texts:
        toks = text.split(" ")
        x = [0] * n_buckets
        for t in toks:
            x[bucket(t)] += 1
        y = 1_000_000 if len(toks) >= thresh else 0
        docs.append((x + [bias], y))
    n = len(docs)
    w = [0] * (n_buckets + 1)
    for _ in range(steps):
        g = [0] * (n_buckets + 1)
        for x, ym in docs:
            z = sum(wi * xi for wi, xi in zip(w, x))
            sig = max(0, min(1_000_000, 500_000 + tdiv(z, 4)))
            e = sig - ym
            for j in range(len(x)):
                g[j] += e * x[j]
        w = [wi - tdiv(gj, n * lr_den) for wi, gj in zip(w, g)]
    return w


@pytest.fixture(params=["driver", "distributed"])
def trainer_path(request, monkeypatch):
    """Run a trainer test on each path of train_logreg_fixedpoint: the
    driver path at the default row cap, and the per-step distributed
    loop forced by a cap of 0. The other path's step builder is
    replaced by one that fails, so a test cannot pass on the wrong
    path."""
    from hha_spark.operators import quality

    def unused(*_):
        raise AssertionError(f"{request.param} path not taken")

    if request.param == "driver":
        monkeypatch.setattr(quality, "_spark_step", unused)
    else:
        monkeypatch.setattr(quality, "QC_DRIVER_MAX_ROWS", 0)
        monkeypatch.setattr(quality, "_driver_step", unused)
    return request.param


def test_trained_classifier_matches_sequential_reference(spark, trainer_path):
    from hha_spark.operators.quality import (
        QC_BIAS_X,
        QC_BUCKETS,
        QC_LABEL_NTOK,
        QC_LR_DEN,
        QC_STEPS,
        doc_features,
        logreg_scores,
        train_logreg_fixedpoint,
    )

    texts = [
        " ".join(f"tok{(i * 7 + j * 3) % 13}" for j in range(20 + (i * 11) % 60))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    feat = doc_features(df)
    w_spark = train_logreg_fixedpoint(feat)
    w_ref = _py_train(
        texts, QC_BUCKETS, QC_STEPS, QC_LR_DEN, QC_BIAS_X, QC_LABEL_NTOK
    )
    assert w_spark == w_ref

    scored = {r["doc_id"]: r for r in logreg_scores(feat, w_spark).collect()}
    assert len(scored) == 60
    for i, t in enumerate(texts):
        ntok = len(t.split(" "))
        assert scored[i]["label"] == (1 if ntok >= QC_LABEL_NTOK else 0)
        assert scored[i]["keep"] == (scored[i]["logit_q"] >= 0)


def test_trainer_null_feature_takes_distributed_path(spark, monkeypatch):
    """A null feature has SQL semantics (the row drops out of that
    gradient sum) that the int64 driver path cannot express, so a
    frame with one trains on the distributed path even under the
    row cap."""
    from hha_spark.operators import quality

    def unused(*_):
        raise AssertionError("driver path taken")

    feat = spark.createDataFrame(
        [(1, 1_000_000, 30, 16), (2, 0, None, 16), (3, 0, 5, 16)],
        "doc_id long, ym long, x0 long, xb long",
    )
    monkeypatch.setattr(quality, "_driver_step", unused)
    w = quality.train_logreg_fixedpoint(feat, n_buckets=1)
    assert any(wi != 0 for wi in w)


def test_trained_classifier_learns_the_heuristic(spark, monkeypatch):
    """On the sf0.001 fixture the trained model must beat the
    keep-everything baseline on its own training labels — i.e. the
    gradient steps actually move the weights — and the driver and
    distributed trainer paths must return the same weights."""
    from hha_spark.operators import quality
    from hha_spark.operators.quality import (
        doc_features,
        logreg_scores,
        train_logreg_fixedpoint,
    )
    from hha_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    feat = doc_features(docs).persist()
    w = train_logreg_fixedpoint(feat)
    assert any(wi != 0 for wi in w)
    monkeypatch.setattr(quality, "QC_DRIVER_MAX_ROWS", 0)
    assert train_logreg_fixedpoint(feat) == w
    rows = logreg_scores(feat, w).collect()
    feat.unpersist()
    n = len(rows)
    acc = sum((r["keep"] == (r["label"] == 1)) for r in rows) / n
    base = max(
        sum(r["label"] == 1 for r in rows), sum(r["label"] == 0 for r in rows)
    ) / n
    assert acc >= base


def test_bigram_lm_scores_hand_computed(spark):
    from hha_spark.operators.text import bigram_lm_scores

    # corpus: c1(a)=3, c1(b)=2, c1(c)=2, c1(z)=1
    # bigrams: (a,b) x2, (b,c) x1, (c,a) x1, (a,z) x1
    df = spark.createDataFrame(
        [(1, "a b c a z"), (2, "a b"), (3, "c")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    # doc1 bigrams: (a,b):q=2e6//3=666666  (b,c):1e6//2=500000
    #               (c,a):1e6//2=500000    (a,z):1e6//3=333333
    assert out[1]["n_bigrams"] == 4
    assert out[1]["sum_q"] == 666666 + 500000 + 500000 + 333333
    assert out[1]["min_q"] == 333333
    assert out[1]["avg_q"] == out[1]["sum_q"] // 4
    assert out[2]["n_bigrams"] == 1 and out[2]["sum_q"] == 666666
    # single-token doc: zero bigrams, zeroed metrics
    assert out[3]["n_bigrams"] == 0 and out[3]["avg_q"] == 0


def test_dsir_target_slice_scores_higher(spark):
    """The target-language slice must out-score the rest on average
    (the weights are literally built from its distribution), and the
    mean-relative keep must split the corpus."""
    from hha_spark.queries.scoring import (
        DSIR_TARGET_LANG,
        corpus_dsir_weights,
    )
    from hha_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = corpus_dsir_weights(spark, sf)
    docs = load_table(spark, sf, "documents").select("doc_id", "lang")
    joined = out.join(docs, on="doc_id").toPandas()
    tgt = joined[joined["lang"] == DSIR_TARGET_LANG]["dsir_score_ppm"].mean()
    rest = joined[joined["lang"] != DSIR_TARGET_LANG]["dsir_score_ppm"].mean()
    assert tgt > rest
    assert 0 < joined["keep"].sum() < len(joined)


def test_ccnet_buckets_are_balanced_and_ordered(spark):
    """Per language: bucket sizes differ by at most 1, head scores
    dominate middle dominate tail, and keep == (bucket != tail)."""
    from hha_spark.queries.scoring import corpus_ccnet_buckets

    out = corpus_ccnet_buckets(spark, "/root/testdata/sf0.001").toPandas()
    assert (out["keep"] == (out["bucket"] != "tail")).all()
    for lang, grp in out.groupby("lang"):
        sizes = grp.groupby("bucket").size()
        assert sizes.max() - sizes.min() <= 1, (lang, dict(sizes))
        # a <3-doc language yields fewer than 3 buckets; compare only
        # adjacent buckets that exist so the assert (not a KeyError)
        # reports any ordering violation
        by = {b: g["avg_tf"] for b, g in grp.groupby("bucket")}
        order = [b for b in ("head", "middle", "tail") if b in by]
        for hi, lo in zip(order, order[1:]):
            assert by[hi].min() >= by[lo].max(), (lang, hi, lo)


def test_quality_agreement_matrix_is_consistent(spark):
    """Cells are the 2x2 verdict space, counts total the corpus, and
    ppm shares are the exact floors of their cells."""
    from hha_spark.queries.scoring import quality_gate_agreement
    from hha_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = quality_gate_agreement(spark, sf).toPandas()
    n_docs = load_table(spark, sf, "documents").count()
    assert out["n_docs"].sum() == n_docs
    assert len(out) <= 4
    for _, r in out.iterrows():
        assert r["share_ppm"] == r["n_docs"] * 1_000_000 // n_docs


def test_dsir_ratios_exact_past_int64_wrap(spark):
    """Bucket statistics at ~2e13 corpus tokens (100 TB-scale): the
    ratio numerator (c_tgt+1)*(t_raw+B)*1e6 and denominator
    (c_raw+1)*(t_tgt+B) both exceed int64, so the DECIMAL(38,0) path
    must still produce the exact Python-bigint quotients — the int64
    formulation wraps here (Spark non-ANSI wraps silently, which is
    exactly the divergence this pins)."""
    from hha_spark.queries.scoring import DSIR_B, dsir_bucket_ratios

    stats = [
        (0, 9_000_000_000_000, 5_000_000_000_000),
        (1, 7_000_000_000_000, 1_000_000_000),
        (2, 4_000_000_000_000, 3_999_999_999_999),
    ]
    df = spark.createDataFrame(
        stats, "bucket int, c_raw long, c_tgt long"
    )
    t_raw = sum(c for _, c, _ in stats)
    t_tgt = sum(c for _, _, c in stats)
    out = {r["bucket"]: r["ratio_ppm"] for r in dsir_bucket_ratios(df).collect()}
    wrapped = False
    for b, c_raw, c_tgt in stats:
        num = (c_tgt + 1) * (t_raw + DSIR_B) * 1_000_000
        den = (c_raw + 1) * (t_tgt + DSIR_B)
        wrapped = wrapped or num > 2**63 or den > 2**63
        assert out[b] == num // den, (b, out[b], num // den)
    assert wrapped, "fixture must actually exceed int64"


def test_tdiv_exact_to_double_boundary(spark):
    """_tdiv routes |x|/|d| through IEEE double; exactness holds for
    |x| < 2^53 (_TDIV_EXACT_BOUND) and demonstrably breaks above it.
    Adversarial cases hug the boundary from below with divisors that
    stress the mantissa; the 2^53+1 case pins WHY the trainer enforces
    the bound (the double rounds x itself before dividing)."""
    from hha_spark.operators.quality import _TDIV_EXACT_BOUND, _tdiv

    assert _TDIV_EXACT_BOUND == 2**53
    cases = []
    for k in (1, 2, 3, 5, 7):
        for d in (1, 3, 4, 7, 97, 1_000_000):
            x = 2**53 - k
            cases.append((x, d))
            cases.append((-x, d))
    cases += [(0, 4), (7, 4), (-7, 4), (2**31 + 1, 3), (-(2**31 + 1), 3)]
    df = spark.createDataFrame(cases, "x long, d long")
    out = df.select("x", "d", _tdiv(F.col("x"), F.col("d")).alias("q")).collect()
    for r in out:
        want = -(abs(r["x"]) // r["d"]) if r["x"] < 0 else r["x"] // r["d"]
        assert r["q"] == want, (r["x"], r["d"], r["q"], want)
    # above the bound the helper is WRONG — this is the failure the
    # training-loop OverflowError guard exists to keep unreachable
    bad = spark.createDataFrame([(2**53 + 1, 1)], "x long, d long")
    (got,) = bad.select(_tdiv(F.col("x"), F.col("d")).alias("q")).collect()
    assert got["q"] == 2**53 != 2**53 + 1


def test_trainer_guard_trips_past_tdiv_bound(spark, trainer_path):
    """A feature frame engineered so the first weight update lands
    max|w| * max(sum x) past 2^53 must raise, not silently train on
    inexact logits."""
    from hha_spark.operators.quality import train_logreg_fixedpoint

    # one doc, one huge bucket count: gradient g0 = (sig - ym) * x0 =
    # (500000 - 1000000) * 4e9 => w0 becomes ~2e13 after step 1 with
    # lr_den=1; z_bound ~ 2e13 * 4e9 >> 2^53
    row = [(1, 1_000_000, 4_000_000_000, 1)]
    feat = spark.createDataFrame(row, "doc_id long, ym long, x0 long, xb long")
    with pytest.raises(OverflowError, match="2\\^53"):
        train_logreg_fixedpoint(feat, n_buckets=1, steps=2, lr_den=1)


def test_bigram_q_exact_past_int64_wrap(spark):
    """Bigram stats at 100 TB-boilerplate scale: c2 * 1e6 exceeds
    int64 once one bigram passes ~9.2e12 occurrences, so the
    DECIMAL(38,0) product (HUGEINT in the oracle) must still produce
    the exact Python-bigint quotient — the int64 formulation wraps
    here (Spark non-ANSI wraps silently, which is exactly the
    divergence this pins). Also pins q <= 1e6 (c2 <= c1), the bound
    that makes the final BIGINT cast safe."""
    import duckdb

    from hha_spark.operators.text import bigram_q_col

    stats = [
        ("a", "b", 13_000_000_000_000, 12_999_999_999_999),  # wraps
        ("a", "c", 13_000_000_000_000, 1),
        ("d", "e", 9_300_000_000_000, 9_300_000_000_000),    # q == 1e6
    ]
    df = spark.createDataFrame(stats, "w1 string, w2 string, c1 long, c2 long")
    got = {
        (r["w1"], r["w2"]): r["q"]
        for r in df.select("w1", "w2", bigram_q_col()).collect()
    }
    wrapped = False
    for w1, w2, c1, c2 in stats:
        want = (c2 * 1_000_000) // c1
        wrapped = wrapped or c2 * 1_000_000 > 2**63
        assert got[(w1, w2)] == want, ((w1, w2), got[(w1, w2)], want)
        assert got[(w1, w2)] <= 1_000_000
        duck = duckdb.sql(
            f"SELECT CAST(CAST({c2} AS HUGEINT) * 1000000 // {c1}"
            " AS BIGINT) AS q"
        ).fetchone()[0]
        assert duck == want
    assert wrapped, "fixture must actually exceed int64"
