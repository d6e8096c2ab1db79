"""Driver-gate queries for corpus-LM scoring, distribution-shift QA,
and robust anomaly accounting (operators/text.py, operators/dq.py).

These are the "statistical gate" tier of a training-data pipeline:
after dedup/PII/quality-rules have run, a corpus still needs (a) a
perplexity-style per-document score to drop the rare-token tail,
(b) a per-source distribution-shift check before mixture weighting,
and (c) a robust outlier monitor over the operational event stream.

Same determinism contract as the rest of the registry: BIGINT
accumulation, integer floor-division, single final divisions of exact
integers; the one interpolated quantity (exact median) uses the
expression both engines evaluate identically (see
operators/dq.py::robust_outlier_report docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hha_spark.operators.dq import robust_outlier_report
from hha_spark.operators.text import source_token_divergence, unigram_lm_scores
from hha_spark.sources.tables import load_table

HEAD_K = 1024
MAD_K = 3


def text_unigram_lm_score(spark, sf_dir):
    """Per-document corpus-frequency score (integer perplexity
    surrogate) with the head/tail skew-split vocabulary join — see
    operators/text.py::unigram_lm_scores for the 100 TB shape."""
    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_scores(docs, head_k=HEAD_K)


ORACLE_UNIGRAM = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    vocab AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY token),
    j AS (SELECT t.doc_id, v.tf FROM toks t JOIN vocab v USING (token))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(tf) AS BIGINT) AS sum_tf,
           CAST(MIN(tf) AS BIGINT) AS min_tf,
           CAST(SUM(tf) // COUNT(*) AS BIGINT) AS avg_tf
    FROM j GROUP BY doc_id
"""


def corpus_source_token_divergence(spark, sf_dir):
    """Exact L1 distance between each source's unigram distribution
    and the corpus's — the pre-mixing drift gate. Absent-token mass is
    folded in algebraically (no source x vocab cross product); see
    operators/text.py::source_token_divergence."""
    docs = load_table(spark, sf_dir, "documents")
    return source_token_divergence(docs, group_col="source")


ORACLE_DIVERGENCE = """
    WITH toks AS (
      SELECT source AS grp, unnest(string_split(text, ' ')) AS token
      FROM documents),
    obs AS (
      SELECT grp, token, CAST(COUNT(*) AS BIGINT) AS obs
      FROM toks GROUP BY grp, token),
    s_tot AS (SELECT grp, CAST(SUM(obs) AS BIGINT) AS s FROM obs GROUP BY grp),
    t_tot AS (
      SELECT token, CAST(SUM(obs) AS BIGINT) AS t FROM obs GROUP BY token),
    tot AS (SELECT CAST(SUM(t) AS BIGINT) AS T FROM t_tot),
    per AS (
      SELECT o.grp,
             MIN(s.s) AS grp_tokens,
             MIN(tot.T) AS corpus_tokens,
             CAST(SUM(ABS(o.obs * tot.T - s.s * t.t)) AS BIGINT)
                 AS present_num,
             CAST(SUM(s.s * t.t) AS BIGINT) AS present_st
      FROM obs o
      JOIN t_tot t USING (token)
      JOIN s_tot s USING (grp), tot
      GROUP BY o.grp)
    SELECT grp AS source, grp_tokens,
           CAST(present_num + (grp_tokens * corpus_tokens - present_st)
                AS BIGINT) AS l1_num,
           CAST(grp_tokens * corpus_tokens AS BIGINT) AS l1_den,
           CAST(present_num + (grp_tokens * corpus_tokens - present_st)
                AS DOUBLE)
             / CAST(grp_tokens * corpus_tokens AS DOUBLE) AS l1
    FROM per
"""


def events_value_mad_outliers(spark, sf_dir):
    """Median/MAD robust outlier report per event_type over the event
    stream — the monitoring gate that a corrupt 1e12 reading cannot
    blind (operators/dq.py::robust_outlier_report)."""
    ev = load_table(spark, sf_dir, "events")
    return robust_outlier_report(
        ev.select("event_type", "value"),
        group_col="event_type", value_col="value", k=MAD_K,
    )


ORACLE_MAD = f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS absdev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(absdev, 0.5) AS mad,
             MIN(med) AS med
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(m.med) AS med_value,
           MIN(m.mad) AS mad_value,
           CAST(SUM(CASE WHEN d.absdev > {MAD_K} * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
"""


# Fixed keyword probes over the fixture vocabulary — the serving
# shape: queries are user/curation input, never data-sized.
BM25_QUERIES = (
    (1, ("spark", "join", "hash")),
    (2, ("stream", "window")),
    (3, ("vector", "scan", "filter", "slow")),
)
BM25_K = 10


def text_bm25_topk(spark, sf_dir):
    """Lexical retrieval under the oracle gate: quantized-BM25 top-10
    per keyword probe (operators/retrieval.py — odds-ratio idf in
    exact micro-units, tf saturation + length normalization with
    bit-identical IEEE structure on both engines, BIGINT contribution
    sums). The curation use cases: corpus search, retrieval-pair
    mining, query-driven decontamination."""
    from hha_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_QUERIES, k=BM25_K)


def _bm25_oracle() -> str:
    from hha_spark.operators.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(BM25_QUERIES, k=BM25_K)


QUERIES = {
    "text_unigram_lm_score": text_unigram_lm_score,
    "corpus_source_token_divergence": corpus_source_token_divergence,
    "events_value_mad_outliers": events_value_mad_outliers,
    "text_bm25_topk": text_bm25_topk,
}

ORACLES = {
    "text_unigram_lm_score": ORACLE_UNIGRAM,
    "corpus_source_token_divergence": ORACLE_DIVERGENCE,
    "events_value_mad_outliers": ORACLE_MAD,
    "text_bm25_topk": _bm25_oracle(),
}


BPE_TOP_K = 20


def bpe_merge_candidates(spark, sf_dir):
    """The first iteration of BPE/WordPiece vocabulary training at
    corpus scale: count every ADJACENT token pair and return the top
    merge candidates. The real trainer loops this; one distributed
    iteration is the expensive step (the rest is a driver-side loop
    over a shrinking pair table, exactly the IVF/k-means discipline).

    Shape: pairs generate IN-ROW (indexed transform over the token
    array — no explode-then-self-join), then one map-side-combinable
    groupBy; the global top-k is TakeOrdered over the (bounded) pair
    vocabulary, never a data-sized sort. Ties break on the pair text
    so the result set is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    # split ONCE into a named column: split(text) referenced inside
    # the transform lambda would re-split per ELEMENT (O(len^2) per
    # doc — common-subexpression elimination does not reach inside
    # higher-order-function lambdas; same pitfall grams_expr documents
    # and the round-6 BM25 fix measured at 2.3x)
    pairs = (
        docs.select(F.split("text", " ").alias("toks"))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, size(toks) - 1), "
                    "(t, i) -> struct(t AS a, toks[i + 1] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(BPE_TOP_K)
    )


ORACLE_BPE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(ts)),
                    i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS p
      FROM toks),
    counted AS (
      SELECT p.a AS a, p.b AS b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pairs GROUP BY p.a, p.b)
    SELECT a, b, cnt FROM counted
    ORDER BY cnt DESC, a, b LIMIT {BPE_TOP_K}
"""


QUERIES["bpe_merge_candidates"] = bpe_merge_candidates
ORACLES["bpe_merge_candidates"] = ORACLE_BPE


KEEP_PCT_NUM, KEEP_PCT_DEN = 1, 2  # keep the top half per source


def quality_percentile_by_source(spark, sf_dir):
    """Percentile-based curation gate, normalized PER SOURCE: rank
    every document inside its source by a quality proxy (content
    length), emit its percent_rank, and keep the top half of EACH
    source. Normalizing per domain is the standard fix for the
    cross-domain bias of a single global threshold (a p50 cutoff on
    raw score would eject entire low-scoring-but-wanted domains).

    percent_rank is RANK-based — (rank-1)/(n-1), no interpolation —
    so the value is the same exact double in any engine; the keep
    test uses integer cross-multiplication on rank/count, never the
    double. One shuffle: the per-source window sort. At 100 TB each
    source partitions further by a salted sub-key and the rank
    becomes a two-pass (per-salt rank + offset) — same output, same
    single logical shuffle class.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    ).select(
        "doc_id", "source", "n_chars",
        F.rank().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(
            Window.partitionBy("source")
        ).cast("long").alias("n_src"),
        F.percent_rank().over(w).alias("pct_rank"),
    )
    keep = (
        (F.col("rnk") - 1) * KEEP_PCT_DEN
        >= F.col("n_src") * (KEEP_PCT_DEN - KEEP_PCT_NUM)
    )
    return ranked.select(
        "doc_id", "source", "n_chars", "pct_rank", keep.alias("keep")
    )


ORACLE_QUALITY_PCTL = f"""
    WITH ranked AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(RANK() OVER (PARTITION BY source
                               ORDER BY n_chars, doc_id) AS BIGINT) AS rnk,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src,
             PERCENT_RANK() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS pct_rank
      FROM documents)
    SELECT doc_id, source, n_chars, pct_rank,
           (rnk - 1) * {KEEP_PCT_DEN}
               >= n_src * ({KEEP_PCT_DEN} - {KEEP_PCT_NUM}) AS keep
    FROM ranked
"""


QUERIES["quality_percentile_by_source"] = quality_percentile_by_source
ORACLES["quality_percentile_by_source"] = ORACLE_QUALITY_PCTL


def corpus_dedup_rate_by_source(spark, sf_dir):
    """Per-source duplication dashboard — the number every crawl
    triage meeting asks for: how many of each source's documents are
    exact duplicates (corpus-wide, by content fingerprint), and how
    many distinct contents the source actually contributes. High dup
    rate -> fix the crawler or drop the source before paying for
    near-dup passes.

    One shuffle for the fingerprint group size (window over the md5
    key), one map-side-combinable rollup per source. Group size is
    corpus-wide on purpose: a doc duplicated ACROSS sources counts as
    duplicated in both — that is what the downstream keep-one pass
    will see.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "source", F.md5("text").alias("fp")
    ).withColumn(
        "grp_size", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )
    return fp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("grp_size") > 1).cast("long")).cast("long")
        .alias("n_dup_docs"),
        F.countDistinct("fp").cast("long").alias("n_unique_fp"),
    )


ORACLE_DEDUP_RATE = """
    WITH fp AS (
      SELECT doc_id, source, md5(text) AS fp,
             COUNT(*) OVER (PARTITION BY md5(text)) AS grp_size
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN grp_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_fp
    FROM fp GROUP BY source
"""


QUERIES["corpus_dedup_rate_by_source"] = corpus_dedup_rate_by_source
ORACLES["corpus_dedup_rate_by_source"] = ORACLE_DEDUP_RATE


DOD_NUM, DOD_DEN = 3, 2  # day-over-day spike: today >= 1.5x yesterday
DOC_BIN = 50


def events_day_over_day(spark, sf_dir):
    """Day-over-day volume monitoring per event type: daily counts,
    yesterday's count alongside (LAG over the per-type day series),
    and an integer cross-multiplied spike flag (today*2 >= prev*3,
    i.e. >= 1.5x growth) — the trend gate a pipeline dashboard pages
    on. Event days come from the TZ-independent epoch-microsecond
    extraction (sources/tables.py::events_ts_us), so the day boundary
    is identical on any host timezone.

    Shape: one map-side-combinable (type, day) count, then a window
    over the tiny per-type day series — the wide work is one
    aggregate of the fact scan; the LAG runs on aggregated rows.
    """
    from pyspark.sql import Window

    from hha_spark.sources.tables import events_ts_us

    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        (events_ts_us(ev) / F.lit(86_400_000_000)).cast("long").alias("day"),
    ).groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type", "day", "n",
        F.lag("n").over(w).alias("prev_n"),
    ).withColumn(
        "spike",
        F.coalesce(
            F.col("n") * F.lit(DOD_DEN) >= F.col("prev_n") * F.lit(DOD_NUM),
            F.lit(False),
        ),
    )


ORACLE_DAY_OVER_DAY = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, day, n,
             LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
      FROM daily)
    SELECT event_type, day, n, prev_n,
           COALESCE(n * {DOD_DEN} >= prev_n * {DOD_NUM}, FALSE) AS spike
    FROM lagged
"""


def doc_length_histogram(spark, sf_dir):
    """Fixed-width document-length histogram per source — the
    at-a-glance distribution check behind every length-filter
    decision (truncation cliffs, bot-generated spikes, empty-doc
    pileups all show up as bin anomalies). FLOOR bin edges are
    cross-engine deterministic; one combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        "source",
        F.expr(f"CAST(FLOOR(n_chars / {DOC_BIN}) AS BIGINT)").alias("bin"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


ORACLE_DOC_LENGTH_HIST = f"""
    SELECT source,
           CAST(FLOOR(n_chars / {DOC_BIN}) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
"""


QUERIES["events_day_over_day"] = events_day_over_day
ORACLES["events_day_over_day"] = ORACLE_DAY_OVER_DAY
QUERIES["doc_length_histogram"] = doc_length_histogram
ORACLES["doc_length_histogram"] = ORACLE_DOC_LENGTH_HIST


RRF_PROBE_MOD = 97  # query-by-example probes: every 97th document
RRF_SYSTEM_K = 20  # depth of each per-system ranking fed to fusion
RRF_FUSED_K = 10


def retrieval_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of a SEMANTIC ranking
    (exact cosine over the embedding column) and a LEXICAL ranking
    (distinct-token overlap, the set-intersection core of BM25)
    for query-by-example probes — "find more documents like this one",
    the curation loop behind targeted corpus expansion and
    retrieval-pair mining. doc_id and vec_id are 1:1 aligned in this
    dataset (FIXTURES.md; same contract dedup_text_embedding_drift
    relies on).

    Shapes: the semantic side is the Arrow cosine kernel on a
    %97-sampled probe set; the lexical side broadcasts the probe
    token sets against the corpus token postings (one keyed count);
    fusion is operators/retrieval.py::rrf_fuse — union + one keyed
    BIGINT sum + one per-query rank window, all over ranking-bounded
    (never corpus-bounded) rows.
    """
    from pyspark.sql import Window

    from hha_spark.operators.retrieval import rrf_fuse
    from hha_spark.operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sem = cosine_topk(
        emb.where(F.col("vec_id") % RRF_PROBE_MOD == 0), emb, k=RRF_SYSTEM_K
    )

    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    probe_toks = toks.where(F.col("doc_id") % RRF_PROBE_MOD == 0).select(
        F.col("doc_id").alias("qid"), "tok"
    )
    overlap = (
        F.broadcast(probe_toks)
        .join(toks.select(F.col("doc_id").alias("cid"), "tok"), on="tok")
        .where(F.col("qid") != F.col("cid"))
        .groupBy("qid", "cid")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("overlap"), F.asc("cid"))
    lex = overlap.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= RRF_SYSTEM_K
    )
    return rrf_fuse(
        [sem.select("qid", "cid", "rank"), lex.select("qid", "cid", "rank")],
        k=RRF_FUSED_K,
    )


def _rrf_oracle() -> str:
    from hha_spark.operators.retrieval import RRF_K0, _RRF_Q
    from hha_spark.queries.llm_ops import _DOT_SQL, _EMB_EL, _NORM_SQL

    return f"""
    WITH el AS ({_EMB_EL}),
    q_el AS (SELECT * FROM el WHERE vec_id % {RRF_PROBE_MOD} = 0),
    dots AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid, {_DOT_SQL} AS dot
      FROM q_el a JOIN el b USING (idx) GROUP BY a.vec_id, b.vec_id),
    norms AS (SELECT vec_id, {_NORM_SQL} AS norm_sq FROM el GROUP BY vec_id),
    sims AS (
      SELECT qid, cid,
             dot / NULLIF(sqrt(qn.norm_sq) * sqrt(cn.norm_sq), 0) AS cosine
      FROM dots JOIN norms qn ON qn.vec_id = qid
                JOIN norms cn ON cn.vec_id = cid
      WHERE qid <> cid),
    sem AS (
      SELECT qid, cid,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid) AS rank
      FROM sims),
    toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    ov AS (
      SELECT p.doc_id AS qid, t.doc_id AS cid,
             CAST(COUNT(*) AS BIGINT) AS overlap
      FROM toks p JOIN toks t USING (tok)
      WHERE p.doc_id % {RRF_PROBE_MOD} = 0 AND p.doc_id <> t.doc_id
      GROUP BY 1, 2),
    lex AS (
      SELECT qid, cid,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY overlap DESC, cid) AS rank
      FROM ov),
    unioned AS (
      SELECT qid, cid, {_RRF_Q} // ({RRF_K0} + rank) AS pts
      FROM sem WHERE rank <= {RRF_SYSTEM_K}
      UNION ALL
      SELECT qid, cid, {_RRF_Q} // ({RRF_K0} + rank) AS pts
      FROM lex WHERE rank <= {RRF_SYSTEM_K}),
    fused AS (
      SELECT qid, cid, CAST(SUM(pts) AS BIGINT) AS rrf_q,
             CAST(COUNT(*) AS BIGINT) AS n_systems
      FROM unioned GROUP BY qid, cid),
    ranked AS (
      SELECT qid, cid, rrf_q, n_systems,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY rrf_q DESC, cid) AS BIGINT) AS fused_rank
      FROM fused)
    SELECT qid, cid, rrf_q, n_systems, fused_rank
    FROM ranked WHERE fused_rank <= {RRF_FUSED_K}
    """


QUERIES["retrieval_rrf_fusion"] = retrieval_rrf_fusion
ORACLES["retrieval_rrf_fusion"] = _rrf_oracle()


BPE_TRAIN_STEPS = 3


def bpe_train_merges(spark, sf_dir):
    """The iterative BPE trainer under the oracle gate: 3 rounds of
    count -> argmax -> corpus-wide merge, one output row per learned
    merge (operators/text.py::bpe_train_merges). The oracle unrolls
    the same loop as chained CTEs — each round's corpus is the
    previous round's plain double-spaced replace, so both engines
    walk the identical greedy merge sequence."""
    from hha_spark.operators.text import bpe_train_merges as _train

    docs = load_table(spark, sf_dir, "documents")
    return _train(docs, n_merges=BPE_TRAIN_STEPS)


def _bpe_train_oracle(n: int = BPE_TRAIN_STEPS) -> str:
    ctes = [
        "c0 AS (SELECT ' ' || replace(text, ' ', '  ') || ' ' AS t"
        " FROM documents)"
    ]
    for s in range(1, n + 1):
        prev = f"c{s - 1}"
        ctes.append(f"""p{s} AS (
      SELECT p.a AS a, p.b AS b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(list_transform(range(1, len(ts)),
                      i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS p
        FROM (SELECT string_split(trim(t), '  ') AS ts FROM {prev})
      ) GROUP BY p.a, p.b)""")
        ctes.append(
            f"t{s} AS (SELECT a, b, cnt FROM p{s}"
            " ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        ctes.append(f"""c{s} AS (
      SELECT replace(t,
        ' ' || (SELECT a FROM t{s}) || '  ' || (SELECT b FROM t{s}) || ' ',
        ' ' || (SELECT a FROM t{s}) || '@@' || (SELECT b FROM t{s}) || ' ')
        AS t
      FROM {prev})""")
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS step, a, b, cnt FROM t{s}"
        for s in range(1, n + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + selects


QUERIES["bpe_train_merges"] = bpe_train_merges
ORACLES["bpe_train_merges"] = _bpe_train_oracle()


def bpe_tokenize_compression(spark, sf_dir):
    """Train -> apply round-trip: learn BPE_TRAIN_STEPS merges on the
    corpus, tokenize the corpus with them, and report per-doc token
    counts before/after (operators/text.py::bpe_apply). The merge
    list is the trainer's 3-row model artifact collected driver-side;
    application is a shuffle-free narrow map."""
    from hha_spark.operators.text import bpe_apply, bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r.a, r.b)
        for r in sorted(
            bpe_train_merges(docs, n_merges=BPE_TRAIN_STEPS).collect()
        )
    ]
    return bpe_apply(docs, merges)


def _bpe_apply_oracle(n: int = BPE_TRAIN_STEPS) -> str:
    """Same unrolled CTE chain as the trainer's oracle, carrying
    doc_id so the final corpus state yields per-doc counts."""
    ctes = [
        "c0 AS (SELECT doc_id,"
        " ' ' || replace(text, ' ', '  ') || ' ' AS t FROM documents)"
    ]
    for s in range(1, n + 1):
        prev = f"c{s - 1}"
        ctes.append(f"""p{s} AS (
      SELECT p.a AS a, p.b AS b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(list_transform(range(1, len(ts)),
                      i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS p
        FROM (SELECT string_split(trim(t), '  ') AS ts FROM {prev})
      ) GROUP BY p.a, p.b)""")
        ctes.append(
            f"t{s} AS (SELECT a, b, cnt FROM p{s}"
            " ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        ctes.append(f"""c{s} AS (
      SELECT doc_id, replace(t,
        ' ' || (SELECT a FROM t{s}) || '  ' || (SELECT b FROM t{s}) || ' ',
        ' ' || (SELECT a FROM t{s}) || '@@' || (SELECT b FROM t{s}) || ' ')
        AS t
      FROM {prev})""")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_base,
           CAST(len(string_split(trim(c.t), '  ')) AS BIGINT) AS n_merged
    FROM documents d JOIN c{n} c USING (doc_id)"""
    )


QUERIES["bpe_tokenize_compression"] = bpe_tokenize_compression
ORACLES["bpe_tokenize_compression"] = _bpe_apply_oracle()


def quality_classifier_trained(spark, sf_dir):
    """The trained counterpart of quality_classifier_keep: fixed-point
    logistic regression (operators/quality.py) distilling
    the doc-length seed heuristic into hashed bag-of-words weights,
    then serving the model as a narrow map. The oracle re-runs the
    ENTIRE unrolled training loop as chained CTEs, so a green row
    proves the whole gradient trajectory — step counts, hard-sigmoid
    clamps, truncating divisions — matches cross-engine, the same
    discipline bpe_train_merges established for iterative trainers.
    Train accuracy at sf0.01 is 0.99 with ~51% keep rate (measured)."""
    from hha_spark.operators.quality import (
        doc_features,
        logreg_scores,
        train_logreg_fixedpoint,
    )

    from hha_spark.caching import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    # the feature frame feeds the trainer's collect (every gradient
    # step, past the driver-path row cap) AND the returned scores —
    # persist via the session-scoped registry so the caller's cycle
    # boundary releases it after materializing (caching.py)
    feat = tracked_persist(doc_features(docs))
    weights = train_logreg_fixedpoint(feat)
    return logreg_scores(feat, weights)


def _quality_trained_oracle() -> str:
    from hha_spark.operators.quality import logreg_oracle_sql

    return logreg_oracle_sql()


QUERIES["quality_classifier_trained"] = quality_classifier_trained
ORACLES["quality_classifier_trained"] = _quality_trained_oracle()


def text_bigram_lm_score(spark, sf_dir):
    """Order-2 corpus-LM score per document (operators/text.py::
    bigram_lm_scores): conditional-probability surrogates
    (c(w1,w2)*1e6 DIV c(w1)) summed/min'd per doc — catches docs of
    common tokens in unusual order, the blind spot of
    text_unigram_lm_score."""
    from hha_spark.operators.text import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs)


ORACLE_BIGRAM_LM = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    occ AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s),
    uni AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
    big AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
      FROM occ GROUP BY w1, w2),
    st AS (
      -- HUGEINT product mirrors the Spark side's DECIMAL(38,0):
      -- c2 * 1e6 wraps int64 past ~9.2e12 occurrences of one bigram
      SELECT w1, w2, CAST(CAST(c2 AS HUGEINT) * 1000000 // c1 AS BIGINT) AS q
      FROM big JOIN uni USING (w1)),
    sc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(q) AS BIGINT) AS sum_q,
             CAST(MIN(q) AS BIGINT) AS min_q
      FROM occ JOIN st USING (w1, w2) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(sc.sum_q, 0) AS BIGINT) AS sum_q,
           CAST(coalesce(sc.min_q, 0) AS BIGINT) AS min_q,
           CAST(CASE WHEN coalesce(sc.n_bigrams, 0) > 0
                     THEN sc.sum_q // sc.n_bigrams ELSE 0 END AS BIGINT)
               AS avg_q
    FROM documents d LEFT JOIN sc USING (doc_id)
"""


QUERIES["text_bigram_lm_score"] = text_bigram_lm_score
ORACLES["text_bigram_lm_score"] = ORACLE_BIGRAM_LM


# DSIR hashed-feature space and target domain
DSIR_B = 1024
DSIR_TARGET_LANG = "en"


def dsir_bucket_ratios(raw):
    """Per-bucket Laplace-smoothed target/raw probability ratio in
    exact integer ppm, from bucket statistics
    (bucket, c_raw, c_tgt) — factored out of corpus_dsir_weights so
    the overflow contract is unit-testable at synthetic 100 TB-scale
    statistics without a 100 TB corpus.

    Overflow contract: the numerator (c_tgt+1)*(t_raw+B)*1e6 crosses
    int64 around 1e8 total corpus tokens and the denominator
    (c_raw+1)*(t_tgt+B) around 1e9 — both far inside the 100 TB
    design envelope — so BOTH products run in DECIMAL(38,0)
    (HUGEINT in the oracle) and only the final quotient is cast back
    to BIGINT (~1e6-scale, always fits). Spark's `div` returns
    BIGINT for integral inputs, so the decimal cast wraps each
    dangerous product DIRECTLY (the mixture_readout discipline);
    values are identical to the int64 formulation wherever that one
    doesn't wrap (test_dsir_ratios_exact_past_int64_wrap).
    """
    tot = raw.agg(
        F.sum("c_raw").cast("long").alias("t_raw"),
        F.sum("c_tgt").cast("long").alias("t_tgt"),
    )
    return raw.join(F.broadcast(tot)).select(
        "bucket",
        F.expr(
            f"CAST(CAST(c_tgt + 1 AS DECIMAL(38,0))"
            f" * (t_raw + {DSIR_B}) * 1000000"
            f" DIV (CAST(c_raw + 1 AS DECIMAL(38,0))"
            f" * (t_tgt + {DSIR_B})) AS BIGINT)"
        ).alias("ratio_ppm"),
    )


def corpus_dsir_weights(spark, sf_dir):
    """DSIR-style data selection with importance resampling (Xie et
    al. 2023) in its hashed-feature form: score every raw document by
    how much its token distribution looks like a TARGET domain (here
    the English slice), using per-bucket probability ratios between
    the target and raw unigram distributions over a fixed hashed
    vocabulary of B buckets.

    Exactness surrogate (same discipline as the BM25 odds-ratio idf):
    the original sums LOG ratios; correctly-rounded ln is not
    guaranteed identical across JVM/libm, so this computes the
    per-bucket Laplace-smoothed probability ratio in exact integer
    ppm and averages it per document in the LINEAR domain. Per-token
    the signal is identical-monotone; summed across a document the
    ranking can deviate from the log-domain original (outlier buckets
    weigh heavier) — documented, not hidden.

    Scale shape: the bucket-stats table is B rows REGARDLESS of
    corpus size (the point of hashing) and BROADCASTS onto the token
    scan; both count aggregates are map-side combinable; the per-doc
    score is one doc-keyed combinable aggregate. Nothing is
    corpus-pairwise and no shuffle carries more than B rows of
    statistics.
    """
    from hha_spark.operators.sketch import md5_mod

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    ).select(
        "doc_id",
        "lang",
        md5_mod("dsir|", F.col("token"), DSIR_B).alias("bucket"),
    )
    raw = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c_raw"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        )
        .cast("long")
        .alias("c_tgt"),
    )
    ratios = dsir_bucket_ratios(raw)
    scored = (
        toks.join(F.broadcast(ratios), on="bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.expr("SUM(ratio_ppm) DIV COUNT(*)")
            .cast("long")
            .alias("dsir_score_ppm"),
        )
    )
    # scale-relative keep: above the corpus-mean score (broadcast
    # 1-row threshold; an absolute cut would be fixture-dependent)
    mean = scored.agg(
        F.expr("SUM(dsir_score_ppm) DIV COUNT(*)")
        .cast("long")
        .alias("mean_score_ppm")
    )
    return (
        scored.join(F.broadcast(mean))
        .withColumn(
            "keep", F.col("dsir_score_ppm") >= F.col("mean_score_ppm")
        )
        .drop("mean_score_ppm")
    )


from hha_spark.operators.sketch import md5_mod_sql as _md5_mod_sql

_DSIR_BUCKET_SQL = _md5_mod_sql("dsir|", "token", DSIR_B)

ORACLE_DSIR = f"""
    WITH toks AS (
      SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS bucket
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
            FROM documents)),
    raw AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS c_raw,
             CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_tgt
      FROM toks GROUP BY bucket),
    tot AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS t_raw,
                   CAST(SUM(c_tgt) AS BIGINT) AS t_tgt FROM raw),
    ratios AS (
      -- HUGEINT products mirror the Spark side's DECIMAL(38,0):
      -- numerator wraps int64 ~1e8 corpus tokens, denominator ~1e9
      SELECT bucket,
             CAST(CAST(c_tgt + 1 AS HUGEINT) * (t_raw + {DSIR_B}) * 1000000
                  // (CAST(c_raw + 1 AS HUGEINT) * (t_tgt + {DSIR_B}))
                  AS BIGINT) AS ratio_ppm
      FROM raw, tot),
    scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) AS dsir_score_ppm
      FROM toks JOIN ratios USING (bucket)
      GROUP BY doc_id),
    m AS (SELECT CAST(SUM(dsir_score_ppm) // COUNT(*) AS BIGINT)
                   AS mean_score_ppm FROM scored)
    SELECT doc_id, n_toks, dsir_score_ppm,
           dsir_score_ppm >= mean_score_ppm AS keep
    FROM scored, m
"""


QUERIES["corpus_dsir_weights"] = corpus_dsir_weights
ORACLES["corpus_dsir_weights"] = ORACLE_DSIR


def quality_gate_agreement(spark, sf_dir):
    """Decision-layer cross-check of the two quality gates: the
    Gopher rule verdict (text_gopher_quality) x the trained
    classifier verdict (quality_classifier_trained) as a 2x2
    agreement matrix with exact ppm shares — the filter-ensemble
    diagnostic a curation stack reviews before composing gates
    (rules-only keep? model-only keep? both drop?). Each cell's count
    AND its share of the corpus are exact integers.

    Both inputs are already-verified stages; this adds one doc-keyed
    equi-join of two narrow verdict frames and a 4-row aggregate. The
    oracle recomputes BOTH pipelines from scratch as subqueries, so a
    green row re-proves the pair end-to-end, composed.
    """
    from hha_spark.queries.llm_ops import text_gopher_quality

    rules = text_gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("rule_keep")
    )
    model = quality_classifier_trained(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("model_keep")
    )
    j = rules.join(model, on="doc_id")
    grouped = j.groupBy("rule_keep", "model_keep").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    # total via an unbounded window over the <=4-row aggregate: ONE
    # pass over both quality pipelines (a separate agg-then-join total
    # would recompute the whole composed pipeline a second time)
    return grouped.withColumn(
        "share_ppm",
        F.expr("n_docs * 1000000 DIV sum(n_docs) OVER ()").cast("long"),
    )


def _quality_agreement_oracle() -> str:
    from hha_spark.queries.llm_ops import ORACLE_GOPHER

    trained = _quality_trained_oracle()
    return f"""
    WITH g AS (SELECT doc_id, keep AS rule_keep FROM ({ORACLE_GOPHER}) s1),
    t AS (SELECT doc_id, keep AS model_keep FROM ({trained}) s2),
    j AS (SELECT rule_keep, model_keep FROM g JOIN t USING (doc_id)),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM j)
    SELECT rule_keep, model_keep,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) * 1000000 // MIN(n_total) AS BIGINT) AS share_ppm
    FROM j, tot GROUP BY rule_keep, model_keep
"""


QUERIES["quality_gate_agreement"] = quality_gate_agreement
ORACLES["quality_gate_agreement"] = _quality_agreement_oracle()


PPL_BUCKETS = 3


def corpus_ccnet_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity terciles: every document
    ranked within its language by the unigram-LM score and split into
    head/middle/tail equal-count buckets; CCNet keeps head+middle.
    Deterministic total order (avg_tf desc, doc_id) and an integer
    bucket boundary — see operators/text.py::perplexity_buckets."""
    from hha_spark.operators.text import perplexity_buckets

    docs = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(docs, n_buckets=PPL_BUCKETS, head_k=HEAD_K)


ORACLE_CCNET = f"""
    WITH sc AS ({ORACLE_UNIGRAM}),
    l AS (
      SELECT s.doc_id, d.lang, s.avg_tf
      FROM sc s JOIN documents d USING (doc_id)),
    r AS (
      SELECT doc_id, lang, avg_tf,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY avg_tf DESC, doc_id
             ) AS BIGINT) AS ppl_rank,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
      FROM l)
    SELECT doc_id, lang, avg_tf, ppl_rank, n_lang,
           CASE (ppl_rank - 1) * {PPL_BUCKETS} // n_lang
             WHEN 0 THEN 'head'
             WHEN {PPL_BUCKETS - 1} THEN 'tail'
             ELSE 'middle' END AS bucket,
           (ppl_rank - 1) * {PPL_BUCKETS} // n_lang
             < {PPL_BUCKETS - 1} AS keep
    FROM r
"""


QUERIES["corpus_ccnet_buckets"] = corpus_ccnet_buckets
ORACLES["corpus_ccnet_buckets"] = ORACLE_CCNET
