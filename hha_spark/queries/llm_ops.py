"""Driver-gate queries for the LLM-data-pipeline operators (M3):
dedup, similarity search, text analysis, multimodal plumbing —
over the `documents` and `embeddings` tables.

Shared determinism contract with the oracles: md5 hex strings, scaled-
integer Jaccard thresholds, exact-decimal dot products, CASE over
integer comparisons. See the operator modules for the scale design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hha_spark.operators.dedup import (
    exact_dedup_groups,
    incremental_lsh_pairs,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash16,
    simhash16_pack_sql,
    simhash16_sql_sums,
    with_shingle_set,
    with_token_set,
)
from hha_spark.operators.multimodal import blob_stats, with_blob
from hha_spark.operators.similarity import cosine_pairs_for, cosine_topk
from hha_spark.operators.text import (
    STOPWORDS,
    WORD_RE,
    fingerprint,
    language_id,
    quality_score,
    text_stats,
    token_count_regex,
)
from hha_spark.sources.tables import load_table

from hha_spark.caching import tracked_persist


def _docs(spark, sf_dir) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir) -> DataFrame:
    """Embeddings with the scan fanned out to the session parallelism.

    The fixture is ONE parquet row group, so without this every narrow
    similarity kernel (the 250k-pair zip_with cosine fold, the Lloyd
    assignment map) runs in ONE task — measured 8.8 s vs 2.4 s for
    ann_topk_cosine at sf0.1. The shuffle moves only (vec_id,
    embedding, label) — ~0.5 MB here; on a production table with real
    splits AQE coalesces it to a no-op."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.repartition(spark.sparkContext.defaultParallelism)


def _cast_longs(df: DataFrame, cols: list[str]) -> DataFrame:
    """Spark size()/row_number() yield INT; oracles yield BIGINT."""
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


# --- dedup -----------------------------------------------------------------

def dedup_exact_docs(spark, sf_dir):
    return exact_dedup_groups(_docs(spark, sf_dir))


ORACLE_EXACT = """
    SELECT md5(text) AS text_hash, COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_doc_id
    FROM documents GROUP BY md5(text)
"""


def _ngram_jaccard_from(docs_tok: DataFrame) -> DataFrame:
    out = jaccard_pairs(
        docs_tok, docs_tok, block_cols=["source"], threshold_num=7, threshold_den=10
    )
    return _cast_longs(out, ["inter_size", "union_size"])


def dedup_ngram_jaccard(spark, sf_dir):
    # persist: the prefix-filtered kernel reads the tokenized frame for
    # postings AND for pair verification
    return _ngram_jaccard_from(tracked_persist(with_token_set(_docs(spark, sf_dir))))


ORACLE_NGRAM = """
    WITH toks AS (
      SELECT doc_id, source,
             list_distinct(string_split(text, ' ')) AS tokens
      FROM documents)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.tokens, b.tokens)) AS BIGINT) AS inter_size,
           CAST(len(list_distinct(list_concat(a.tokens, b.tokens))) AS BIGINT)
               AS union_size,
           CAST(len(list_intersect(a.tokens, b.tokens)) AS BIGINT)
             / CAST(len(list_distinct(list_concat(a.tokens, b.tokens))) AS BIGINT)
               AS jaccard
    FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE 10 * len(list_intersect(a.tokens, b.tokens))
          >= 7 * len(list_distinct(list_concat(a.tokens, b.tokens)))
"""


CONTAIN_NUM, CONTAIN_DEN = 8, 10  # containment threshold 0.8
NEW_BATCH_PRED = "doc_id % 4 = 0"   # deterministic ~25% "incoming batch"

_SHINGLES = """
      CASE WHEN len(toks) >= 3 THEN
        list_distinct(list_transform(generate_series(1, len(toks) - 2),
          i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
      ELSE [] END
"""


def corpus_split_leakage(spark, sf_dir):
    """Eval-hygiene audit: near-duplicate pairs that STRADDLE
    train/val/test splits — the leakage that makes held-out metrics
    lie (a test doc whose near-twin sits in train is not held out).
    Hash-bucket splitting (corpus_train_val_test) is deterministic
    but dedup-unaware by construction, so this audit is the check a
    pipeline runs before trusting its eval: the verified
    Jaccard-near-dup relation (>= 0.7, source-blocked — the same
    relation dedup_ngram_jaccard gates) joined to both endpoints'
    split labels, rolled up per (split, split) with a leaky flag.

    Shapes: the pair relation is the prefix-filtered kernel; split
    assignment is a narrow md5 map joined twice by doc id; the rollup
    is a few-row aggregate."""
    from hha_spark.queries.relational3 import TEST_PCT, VAL_PCT

    docs = tracked_persist(with_token_set(_docs(spark, sf_dir)))
    pairs = jaccard_pairs(
        docs, docs, block_cols=["source"], threshold_num=7, threshold_den=10
    ).select("doc_id_a", "doc_id_b")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long") % 100
    splits = docs.select(
        "doc_id",
        F.when(bucket < TEST_PCT, F.lit("test"))
        .when(bucket < TEST_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    labeled = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("split").alias("split_a_raw"),
            ),
            on="doc_id_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("split").alias("split_b_raw"),
            ),
            on="doc_id_b",
        )
        .select(
            F.least("split_a_raw", "split_b_raw").alias("split_a"),
            F.greatest("split_a_raw", "split_b_raw").alias("split_b"),
        )
    )
    return labeled.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    ).withColumn("leaky", F.col("split_a") != F.col("split_b"))


def _split_leakage_oracle() -> str:
    from hha_spark.queries.relational3 import TEST_PCT, VAL_PCT

    return f"""
    WITH pairs AS (SELECT doc_id_a, doc_id_b FROM ({ORACLE_NGRAM})),
    sp AS (
      SELECT doc_id,
             CASE WHEN CAST('0x' || substr(md5('split|' ||
                        CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                       < {TEST_PCT} THEN 'test'
                  WHEN CAST('0x' || substr(md5('split|' ||
                        CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                       < {TEST_PCT + VAL_PCT} THEN 'val'
                  ELSE 'train' END AS split
      FROM documents),
    labeled AS (
      SELECT LEAST(sa.split, sb.split) AS split_a,
             GREATEST(sa.split, sb.split) AS split_b
      FROM pairs p
      JOIN sp sa ON sa.doc_id = p.doc_id_a
      JOIN sp sb ON sb.doc_id = p.doc_id_b)
    SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS leaky
    FROM labeled GROUP BY split_a, split_b
"""


def dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs over word TRIGRAM
    shingles: ordered (a, b) where >= 80% of a's shingles appear in
    b — the subset-duplicate mode (quotes, boilerplate inclusion,
    doc-embedded-in-doc) that symmetric Jaccard structurally misses.
    Order-sensitive shingles keep the predicate about shared PASSAGES,
    not shared vocabulary (the unigram form qualifies most of a
    small-vocab corpus and is output-bound at scale). Exact one-sided
    prefix filtering; the DuckDB oracle is the NAIVE all-pairs
    predicate, so a green row proves the prefix filter lossless on
    real data (operators/dedup.py::containment_pairs)."""
    from hha_spark.operators.dedup import containment_pairs

    docs = tracked_persist(with_shingle_set(_docs(spark, sf_dir), n=3))
    out = containment_pairs(
        docs, tokens_col="shingles",
        threshold_num=CONTAIN_NUM, threshold_den=CONTAIN_DEN,
    )
    return _cast_longs(out, ["inter_size", "n_a"])


ORACLE_CONTAINMENT = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM t)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
               AS inter_size,
           CAST(len(a.shingles) AS BIGINT) AS n_a,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
             / CAST(len(a.shingles) AS BIGINT) AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(a.shingles) > 0
      AND {CONTAIN_DEN} * len(list_intersect(a.shingles, b.shingles))
          >= {CONTAIN_NUM} * len(a.shingles)
"""


def dedup_containment_incremental(spark, sf_dir):
    """Ingest admission gate, containment edition: which docs of an
    incoming batch (doc_id % 4 = 0) are >= 80% shingle-contained in
    some EXISTING corpus doc? Cross-side only — the corpus is never
    self-paired, prefix rarity comes from corpus document
    frequencies, and cost tracks the batch (the daily-crawl shape).
    The oracle is the naive cross-side predicate, proving the
    one-sided filter lossless in cross mode too
    (operators/dedup.py::containment_pairs)."""
    from hha_spark.operators.dedup import containment_pairs

    docs = tracked_persist(with_shingle_set(_docs(spark, sf_dir), n=3))
    new = docs.where(F.expr(NEW_BATCH_PRED))
    corpus = docs.where(~F.expr(NEW_BATCH_PRED))
    out = containment_pairs(
        new, corpus, tokens_col="shingles",
        threshold_num=CONTAIN_NUM, threshold_den=CONTAIN_DEN,
    )
    return _cast_longs(out, ["inter_size", "n_a"])


ORACLE_CONTAINMENT_INC = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM t)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
               AS inter_size,
           CAST(len(a.shingles) AS BIGINT) AS n_a,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
             / CAST(len(a.shingles) AS BIGINT) AS containment
    FROM sh a JOIN sh b
      ON ({NEW_BATCH_PRED.replace('doc_id', 'a.doc_id')})
     AND NOT ({NEW_BATCH_PRED.replace('doc_id', 'b.doc_id')})
     AND a.doc_id <> b.doc_id
    WHERE len(a.shingles) > 0
      AND {CONTAIN_DEN} * len(list_intersect(a.shingles, b.shingles))
          >= {CONTAIN_NUM} * len(a.shingles)
"""


def dedup_trigram_jaccard(spark, sf_dir):
    """Near-dup pairs over word TRIGRAM shingles (order-sensitive,
    unlike the unigram token-set variant), source-blocked, via the
    same inverted-index kernel. Threshold 0.5."""
    # persist: both sides of the self-join read the shingled frame,
    # and the per-row shingle construction is the expensive part
    docs = tracked_persist(with_shingle_set(_docs(spark, sf_dir), n=3))
    out = jaccard_pairs(
        docs, docs, block_cols=["source"], tokens_col="shingles",
        threshold_num=5, threshold_den=10,
    )
    return _cast_longs(out, ["inter_size", "union_size"])



ORACLE_TRIGRAM = f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, source, {_SHINGLES} AS shingles FROM t),
    postings AS (
      SELECT doc_id, source, len(shingles) AS n, unnest(shingles) AS tok
      FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             a.n AS n_a, b.n AS n_b, COUNT(*) AS inter_size
      FROM postings a JOIN postings b
        ON a.source = b.source AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT doc_id_a, doc_id_b,
           CAST(inter_size AS BIGINT) AS inter_size,
           CAST(n_a + n_b - inter_size AS BIGINT) AS union_size,
           inter_size / (n_a + n_b - inter_size) AS jaccard
    FROM inter
    WHERE 10 * inter_size >= 5 * (n_a + n_b - inter_size)
"""


def _minhash_lsh_from(docs: DataFrame) -> DataFrame:
    sigs = minhash_signatures(docs, num_hashes=8)
    cand = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    toks = docs.select("doc_id", "tokens")
    verified = (
        cand.join(
            toks.select(
                F.col("doc_id").alias("doc_id_a"), F.col("tokens").alias("tokens_a")
            ),
            on="doc_id_a",
        )
        .join(
            toks.select(
                F.col("doc_id").alias("doc_id_b"), F.col("tokens").alias("tokens_b")
            ),
            on="doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("tokens_a", "tokens_b")).alias("inter_size"),
            F.size(F.array_union("tokens_a", "tokens_b")).alias("union_size"),
        )
        .where(F.lit(10) * F.col("inter_size") >= F.lit(7) * F.col("union_size"))
    )
    return _cast_longs(verified, ["inter_size", "union_size"])


def dedup_minhash_lsh(spark, sf_dir):
    return _minhash_lsh_from(with_token_set(_docs(spark, sf_dir)))


# mirrors operators/dedup.py::minhash_signatures — mh{i} is the min
# over the i%4-th 8-hex-char slice of md5('s{i//4}|' || token); the
# oracle inlines the md5 per lane (DuckDB has no cheap way to share
# the digest array across lanes in one SELECT item list) but the
# VALUES are identical to Spark's shared-digest form
_SIG_COLS = ", ".join(
    f"list_aggregate(list_transform(tokens, "
    f"t -> substring(md5('s{i // 4}|' || t), {1 + 8 * (i % 4)}, 8)), "
    f"'min') AS mh{i}"
    for i in range(8)
)
_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, mh{2 * b} || mh{2 * b + 1} AS key FROM sigs"
    for b in range(4)
)
MAX_LSH_BUCKET_SQL = 64  # mirrors operators.dedup.MAX_LSH_BUCKET

def _minhash_pairs_sql(docs_rel: str = "documents") -> str:
    """The MinHash-LSH verified-pairs oracle, parameterized by the
    document relation so composed gates (corpus_curation_pipeline)
    can run the identical pair semantics over a filtered subset."""
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokens
      FROM {docs_rel}),
    sigs AS (SELECT doc_id, tokens, {_SIG_COLS} FROM toks),
    bands_all AS ({_BANDS}),
    bands AS (
      SELECT b.* FROM bands_all b
      JOIN (SELECT band, key FROM bands_all GROUP BY band, key
            HAVING COUNT(*) <= {MAX_LSH_BUCKET_SQL}) ok
        USING (band, key)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT doc_id_a, doc_id_b,
           CAST(len(list_intersect(ta.tokens, tb.tokens)) AS BIGINT) AS inter_size,
           CAST(len(list_distinct(list_concat(ta.tokens, tb.tokens))) AS BIGINT)
               AS union_size
    FROM cand
    JOIN toks ta ON ta.doc_id = doc_id_a
    JOIN toks tb ON tb.doc_id = doc_id_b
    WHERE 10 * len(list_intersect(ta.tokens, tb.tokens))
          >= 7 * len(list_distinct(list_concat(ta.tokens, tb.tokens)))
"""


ORACLE_MINHASH = _minhash_pairs_sql()




def dedup_incremental(spark, sf_dir):
    """Ingest-time dedup: which docs of an incoming batch near-
    duplicate the EXISTING corpus? The batch (doc_id % 4 = 0) and the
    corpus (the rest) each compute MinHash band keys; candidates come
    from the cross-side band join only — the corpus is never
    self-paired, so cost tracks the batch size, the way a daily crawl
    increment is deduped against a petabyte corpus. Corpus buckets
    over the cap are template noise and skipped
    (operators/dedup.py::incremental_lsh_pairs). Candidates pay the
    exact Jaccard verification (>= 0.7, integer cross-multiply)."""
    docs = tracked_persist(with_token_set(_docs(spark, sf_dir)))
    new = docs.where(F.expr(NEW_BATCH_PRED))
    corpus = docs.where(~F.expr(NEW_BATCH_PRED))
    cand = incremental_lsh_pairs(
        minhash_signatures(new, num_hashes=8),
        minhash_signatures(corpus, num_hashes=8),
        bands=4,
        rows_per_band=2,
    )
    toks = docs.select("doc_id", "tokens")
    verified = (
        cand.join(
            toks.select(
                F.col("doc_id").alias("doc_id_new"),
                F.col("tokens").alias("tokens_n"),
            ),
            on="doc_id_new",
        )
        .join(
            toks.select(
                F.col("doc_id").alias("doc_id_corpus"),
                F.col("tokens").alias("tokens_c"),
            ),
            on="doc_id_corpus",
        )
        .select(
            "doc_id_new",
            "doc_id_corpus",
            F.size(F.array_intersect("tokens_n", "tokens_c")).alias("inter_size"),
            F.size(F.array_union("tokens_n", "tokens_c")).alias("union_size"),
        )
        .where(F.expr("10 * inter_size >= 7 * union_size"))
    )
    return _cast_longs(verified, ["inter_size", "union_size"])


ORACLE_INCREMENTAL = f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokens
      FROM documents),
    sigs AS (SELECT doc_id, tokens, {_SIG_COLS} FROM toks),
    bands_all AS ({_BANDS}),
    corp AS (SELECT * FROM bands_all WHERE NOT (doc_id % 4 = 0)),
    corp_ok AS (
      SELECT band, key FROM corp GROUP BY band, key
      HAVING COUNT(*) <= {MAX_LSH_BUCKET_SQL}),
    newb AS (SELECT * FROM bands_all WHERE doc_id % 4 = 0),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_id_new, c.doc_id AS doc_id_corpus
      FROM newb n
      JOIN corp c ON n.band = c.band AND n.key = c.key
      JOIN corp_ok ok ON c.band = ok.band AND c.key = ok.key)
    SELECT doc_id_new, doc_id_corpus,
           CAST(len(list_intersect(tn.tokens, tc.tokens)) AS BIGINT)
               AS inter_size,
           CAST(len(list_distinct(list_concat(tn.tokens, tc.tokens))) AS BIGINT)
               AS union_size
    FROM cand
    JOIN toks tn ON tn.doc_id = doc_id_new
    JOIN toks tc ON tc.doc_id = doc_id_corpus
    WHERE 10 * len(list_intersect(tn.tokens, tc.tokens))
          >= 7 * len(list_distinct(list_concat(tn.tokens, tc.tokens)))
"""


def dedup_minhash_recall(spark, sf_dir):
    """Measured LSH quality: of the exact source-blocked near-dup
    pairs (Jaccard >= 0.7), how many does the MinHash+LSH pipeline
    recover? One row: (n_exact, n_found, recall). This is the
    'measure, don't guess' check that the probabilistic path is
    actually usable before trusting it at scale.

    The tokenized frame is built ONCE and persisted; both arms (exact
    inverted-index and MinHash+LSH) read it, so the scan + per-doc
    tokenization — the shared expensive prefix — is not recomputed.
    The per-arm shuffles (postings join vs signatures/banding) remain
    distinct work by construction."""
    docs = tracked_persist(with_token_set(_docs(spark, sf_dir)))
    exact = _ngram_jaccard_from(docs).select("doc_id_a", "doc_id_b")
    lsh = _minhash_lsh_from(docs).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("found")
    )
    joined = exact.join(lsh, on=["doc_id_a", "doc_id_b"], how="left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("found").alias("n_found"),
        (F.count("found") / F.count(F.lit(1))).alias("recall"),
    )



ORACLE_RECALL = f"""
    WITH exact_pairs AS ({ORACLE_NGRAM}),
    lsh_pairs AS ({ORACLE_MINHASH})
    SELECT COUNT(*) AS n_exact,
           COUNT(l.doc_id_a) AS n_found,
           COUNT(l.doc_id_a) / COUNT(*) AS recall
    FROM exact_pairs e
    LEFT JOIN lsh_pairs l
      ON e.doc_id_a = l.doc_id_a AND e.doc_id_b = l.doc_id_b
"""


def dedup_clusters(spark, sf_dir):
    """Transitive closure of the verified MinHash-LSH near-dup pairs:
    (doc_id, cluster_id, cluster_size) with cluster_id = min doc_id
    reachable through the pair graph. Pairs are symptoms; CLUSTERS are
    what a dedup pipeline acts on (keep min-id, drop the rest) — A~B
    and B~C must collapse to one group even when A and C never collide
    in any LSH band. Iterated min-label propagation with path
    compression (operators/cluster.py); the oracle recomputes the same
    labelling via a recursive-CTE reachability closure."""
    from hha_spark.operators.cluster import cluster_members

    pairs = _minhash_lsh_from(with_token_set(_docs(spark, sf_dir))).select(
        "doc_id_a", "doc_id_b"
    )
    return cluster_members(pairs)


ORACLE_CLUSTERS = f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_id_a, doc_id_b FROM ({ORACLE_MINHASH})),
    e AS (SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
          UNION SELECT doc_id_b, doc_id_a FROM pairs),
    reach(node, r) AS (
      SELECT u, u FROM e
      UNION
      SELECT e2.u, reach.r FROM e e2 JOIN reach ON e2.v = reach.node),
    labels AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM labels GROUP BY cluster_id)
    SELECT node AS doc_id, cluster_id, cluster_size
    FROM labels JOIN sizes USING (cluster_id)
"""


def dedup_simhash(spark, sf_dir):
    docs = with_token_set(_docs(spark, sf_dir))
    hashes = simhash16(docs)
    w = Window.partitionBy("simhash")
    return hashes.withColumn("n_same", F.count(F.lit(1)).over(w).cast("long"))


_SIMHASH_SUMS = ", ".join(simhash16_sql_sums())

ORACLE_SIMHASH = f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM toks GROUP BY doc_id),
    hashes AS (SELECT doc_id, {simhash16_pack_sql()} AS simhash FROM sums)
    SELECT doc_id, simhash,
           CAST(COUNT(*) OVER (PARTITION BY simhash) AS BIGINT) AS n_same
    FROM hashes
"""


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS at hamming distance <= 3, found by
    PIGEONHOLE blocking (one of four 4-bit blocks must match exactly
    when <= 3 bits differ) — the pairing stage that turns SimHash
    signatures into a usable near-dup relation, never all-pairs
    (operators/dedup.py::simhash_near_pairs)."""
    from hha_spark.operators.dedup import simhash_near_pairs

    docs = with_token_set(_docs(spark, sf_dir))
    return simhash_near_pairs(simhash16(docs))


ORACLE_SIMHASH_PAIRS = f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM toks GROUP BY doc_id),
    hashes AS (SELECT doc_id, {simhash16_pack_sql()} AS simhash FROM sums),
    blocks AS (
      SELECT doc_id, simhash, b.blk, (simhash >> (b.blk * 4)) & 15 AS val
      FROM hashes, (SELECT unnest([0, 1, 2, 3]) AS blk) b),
    ok AS (
      SELECT blk, val FROM blocks GROUP BY blk, val
      HAVING COUNT(*) <= {MAX_LSH_BUCKET_SQL}),
    kept AS (SELECT k.* FROM blocks k JOIN ok USING (blk, val)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM kept a JOIN kept b
        ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id)
    SELECT doc_id_a, doc_id_b, hamming FROM cand WHERE hamming <= 3
"""


# --- similarity search ------------------------------------------------------

# DuckDB's range() can't take lateral column args; the embedding
# dimension is fixed at 64 in this dataset (FIXTURES.md §B)
EMB_DIM = 64
_EMB_EL = f"""
      SELECT vec_id, i AS idx, embedding[i] AS v
      FROM embeddings, range(1, {EMB_DIM} + 1) t(i)
"""
# mirrors operators/similarity.py: floor-quantized picounit BIGINT sums
_Q = 1_000_000_000_000
_DOT_SQL = (
    f"CAST(SUM(CAST(FLOOR(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) * {_Q}) "
    "AS BIGINT)) AS DOUBLE)"
)
_NORM_SQL = (
    f"CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * {_Q}) "
    "AS BIGINT)) AS DOUBLE)"
)


def ann_topk_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 16 == 0)
    out = cosine_topk(queries, emb, k=5)
    return _cast_longs(out, ["rank"])


ORACLE_ANN = f"""
    WITH el AS ({_EMB_EL}),
    q_el AS (SELECT * FROM el WHERE vec_id % 16 = 0),
    dots AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid, {_DOT_SQL} AS dot
      FROM q_el a JOIN el b USING (idx) GROUP BY a.vec_id, b.vec_id),
    norms AS (SELECT vec_id, {_NORM_SQL} AS norm_sq FROM el GROUP BY vec_id),
    sims AS (
      SELECT qid, cid, dot / NULLIF(sqrt(qn.norm_sq) * sqrt(cn.norm_sq), 0) AS cosine
      FROM dots JOIN norms qn ON qn.vec_id = qid
                JOIN norms cn ON cn.vec_id = cid
      WHERE qid <> cid),
    ranked AS (
      SELECT qid, cid, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, cid) AS BIGINT) AS rank
      FROM sims)
    SELECT * FROM ranked WHERE rank <= 5
"""


def ann_topk_ivf(spark, sf_dir):
    """IVF-style approximate top-k: a coarse quantizer (sign bits of
    the first two components) buckets vectors into 4 cells; each query
    searches only its own cell.

    This is the scale path for similarity search: the exact kernel
    (operators/similarity.py) runs unchanged, but the candidate set —
    and therefore the element join — shrinks by the cell count. At
    100 TB the quantizer would be a trained codebook (k-means
    centroid argmin, expressible with the same exact-dot kernel) and
    cells become partition keys; sign-bit cells keep the demo
    deterministic without a training step.
    """
    emb = _emb(spark, sf_dir)
    cell = (
        (F.col("embedding")[0] >= 0).cast("int") * 2
        + (F.col("embedding")[1] >= 0).cast("int")
    )
    with_cell = emb.withColumn("cell", cell)
    queries = with_cell.where(F.col("vec_id") % 16 == 0).select(
        F.col("vec_id").alias("vec_id_a"), F.col("cell")
    )
    cands = with_cell.select(F.col("vec_id").alias("vec_id_b"), "cell")
    pairs = (
        queries.join(cands, on="cell")
        .where(F.col("vec_id_a") != F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b")
    )
    sims = cosine_pairs_for(pairs, emb)
    w = Window.partitionBy("vec_id_a").orderBy(F.desc("cosine"), F.asc("vec_id_b"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select(
            F.col("vec_id_a").alias("qid"),
            F.col("vec_id_b").alias("cid"),
            "cosine",
            "rank",
        )
    )


ORACLE_ANN_IVF = f"""
    WITH el AS ({_EMB_EL}),
    cells AS (
      SELECT vec_id,
             (CASE WHEN embedding[1] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) AS cell
      FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid
      FROM cells q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
      WHERE q.vec_id % 16 = 0),
    dots AS (
      SELECT p.qid, p.cid, {_DOT_SQL} AS dot
      FROM pairs p
      JOIN el a ON a.vec_id = p.qid
      JOIN el b ON b.vec_id = p.cid AND b.idx = a.idx
      GROUP BY p.qid, p.cid),
    norms AS (SELECT vec_id, {_NORM_SQL} AS norm_sq FROM el GROUP BY vec_id),
    sims AS (
      SELECT qid, cid, dot / NULLIF(sqrt(qn.norm_sq) * sqrt(cn.norm_sq), 0) AS cosine
      FROM dots JOIN norms qn ON qn.vec_id = qid
                JOIN norms cn ON cn.vec_id = cid),
    ranked AS (
      SELECT qid, cid, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, cid) AS BIGINT) AS rank
      FROM sims)
    SELECT * FROM ranked WHERE rank <= 5
"""


IVF_ITERS = 2
IVF_NPROBE = 2


def ann_topk_ivf_trained(spark, sf_dir):
    """IVF top-k with a TRAINED k-means codebook (operators/ivf.py):
    deterministic Lloyd iterations seeded from the sign-bit cells,
    exact quantized arithmetic so the DuckDB oracle reproduces the
    same codebook, and an nprobe=2 probe list per query. Supersedes
    the sign-bit stand-in (`ann_topk_ivf`, kept as the untrained
    baseline)."""
    from hha_spark.operators.ivf import ivf_topk

    return ivf_topk(
        _emb(spark, sf_dir),
        query_pred=(F.col("vec_id") % 16 == 0),
        k=5, nprobe=IVF_NPROBE, iters=IVF_ITERS,
        # trained-index identity; training runs fresh per call (the
        # cross-query memo was removed in round 11 — bench integrity)
        train_key=sf_dir,
    )


def _kmeans_iter_sql(cells_prev: str, cent: str, d: str, el: str = "el") -> str:
    """One unrolled Lloyd round as oracle CTE fragments. `el` is the
    (vec_id, idx, v) element relation the round trains AND assigns
    over — the incremental-ingest oracle passes the corpus-only slice
    so the batch never influences the codebook."""
    return f"""
    {cent} AS (
      SELECT cell, idx,
             (CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * {_Q}) AS BIGINT)) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE)) / {_Q} AS c
      FROM {el} JOIN {cells_prev} USING (vec_id) GROUP BY cell, idx),
    {d} AS (
      SELECT vec_id, cell,
             SUM(CAST(FLOOR((CAST(v AS DOUBLE) - c) * (CAST(v AS DOUBLE) - c)
                            * {_Q}) AS BIGINT)) AS dq
      FROM {el} JOIN {cent} USING (idx) GROUP BY vec_id, cell)
"""


_IVF_TRAINED_CTES = f"""
    el AS ({_EMB_EL}),
    cells0 AS (
      SELECT vec_id,
             (CASE WHEN embedding[1] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) AS cell
      FROM embeddings),
    {_kmeans_iter_sql("cells0", "cent1", "d1")},
    cells1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rnk
        FROM d1) WHERE rnk = 1),
    {_kmeans_iter_sql("cells1", "cent2", "d2")},
    cells2 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rnk
        FROM d2) WHERE rnk = 1),
    probes AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rnk
        FROM d2) WHERE rnk <= {IVF_NPROBE} AND vec_id % 16 = 0),
    ivf_pairs AS (
      SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
      FROM probes q JOIN cells2 c ON q.cell = c.cell AND q.vec_id <> c.vec_id),
    ivf_dots AS (
      SELECT p.qid, p.cid, {_DOT_SQL} AS dot
      FROM ivf_pairs p
      JOIN el a ON a.vec_id = p.qid
      JOIN el b ON b.vec_id = p.cid AND b.idx = a.idx
      GROUP BY p.qid, p.cid),
    ivf_norms AS (SELECT vec_id, {_NORM_SQL} AS norm_sq FROM el GROUP BY vec_id),
    ivf_sims AS (
      SELECT qid, cid, dot / NULLIF(sqrt(qn.norm_sq) * sqrt(cn.norm_sq), 0) AS cosine
      FROM ivf_dots JOIN ivf_norms qn ON qn.vec_id = qid
                    JOIN ivf_norms cn ON cn.vec_id = cid),
    ivf_ranked AS (
      SELECT qid, cid, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, cid) AS BIGINT) AS rank
      FROM ivf_sims)
"""

ORACLE_ANN_IVF_TRAINED = f"""
    WITH {_IVF_TRAINED_CTES}
    SELECT * FROM ivf_ranked WHERE rank <= 5
"""


def ann_ivf_recall(spark, sf_dir):
    """Measured IVF quality: of the exact brute-force top-5 neighbor
    pairs, how many does the trained-codebook nprobe=2 search recover?
    One row (n_exact, n_found, recall) — the same 'measure, don't
    guess' contract as dedup_minhash_recall, sharing one persisted
    embeddings frame across both arms."""
    from hha_spark.operators.ivf import ivf_topk

    emb = tracked_persist(_emb(spark, sf_dir))
    queries = emb.where(F.col("vec_id") % 16 == 0)
    exact = cosine_topk(queries, emb, k=5).select("qid", "cid")
    ivf = ivf_topk(
        emb, query_pred=(F.col("vec_id") % 16 == 0),
        k=5, nprobe=IVF_NPROBE, iters=IVF_ITERS,
        train_key=sf_dir,
    ).select("qid", "cid", F.lit(1).alias("found"))
    joined = exact.join(ivf, on=["qid", "cid"], how="left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("found").alias("n_found"),
        (F.count("found") / F.count(F.lit(1))).alias("recall"),
    )


ORACLE_IVF_RECALL = f"""
    WITH exact5 AS (SELECT qid, cid FROM ({ORACLE_ANN})),
         ivf5 AS (SELECT qid, cid FROM ({ORACLE_ANN_IVF_TRAINED}))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(i.cid) AS BIGINT) AS n_found,
           COUNT(i.cid) / COUNT(*) AS recall
    FROM exact5 e LEFT JOIN ivf5 i ON e.qid = i.qid AND e.cid = i.cid
"""


_NDCG_K = 5


def ann_ndcg_eval(spark, sf_dir):
    """Graded retrieval quality: nDCG@5 of the trained-IVF ranking
    against the exact cosine ranking, per query, in exact integer
    micro-units. Recall@k (ann_ivf_recall) says WHETHER the true
    neighbors were found; nDCG says whether they surface IN THE RIGHT
    ORDER — the metric a retrieval eval actually reports
    (operators/similarity.py::ndcg_at_k)."""
    from hha_spark.operators.ivf import ivf_topk
    from hha_spark.operators.similarity import ndcg_at_k

    emb = tracked_persist(_emb(spark, sf_dir))
    qpred = F.col("vec_id") % 16 == 0
    exact = cosine_topk(emb.where(qpred), emb, k=_NDCG_K)
    ivf = ivf_topk(
        emb, query_pred=qpred, k=_NDCG_K,
        nprobe=IVF_NPROBE, iters=IVF_ITERS, train_key=sf_dir,
    )
    return ndcg_at_k(exact, ivf, k=_NDCG_K)


def _ndcg_oracle() -> str:
    from hha_spark.operators.similarity import ndcg_idcg, ndcg_weights

    _NDCG_W = ndcg_weights(_NDCG_K)
    _NDCG_IDCG = ndcg_idcg(_NDCG_K)
    w_case = " ".join(
        f"WHEN {r} THEN {w}"
        for r, w in zip(range(1, _NDCG_K + 1), _NDCG_W)
    )
    return f"""
    WITH {_IVF_TRAINED_CTES},
    exact5 AS (
      SELECT qid, cid, {_NDCG_K + 1} - rank AS rel FROM ({ORACLE_ANN})),
    ivf5 AS (SELECT qid, cid, rank FROM ivf_ranked
             WHERE rank <= {_NDCG_K}),
    gains AS (
      SELECT i.qid,
             COALESCE(e.rel, 0) * (CASE i.rank {w_case} END) AS gain
      FROM ivf5 i LEFT JOIN exact5 e ON e.qid = i.qid AND e.cid = i.cid)
    SELECT qid, CAST(SUM(gain) AS BIGINT) AS dcg_q,
           CAST(CAST(SUM(gain) AS BIGINT) * 1000000 // {_NDCG_IDCG}
                AS BIGINT) AS ndcg_micro
    FROM gains GROUP BY qid
"""


EMB_LSH_TAU = 0.45


def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup via random-hyperplane (SRP) LSH — the
    bucketed scale path for cosine dedup: vectors sharing any 4-bit
    signature band become candidates (bucket-capped), and only
    candidates pay the exact-cosine verification. The synthetic corpus
    has no true near-dups (max pairwise cosine ≈ 0.51), so the
    threshold targets the similarity band that exists; at higher
    similarity regimes the same operator tightens by raising
    bits_per_band. Collision probability per band is
    (1 - θ/π)^bits — the standard SRP guarantee."""
    from hha_spark.operators.similarity import (
        cosine_pairs_for,
        hyperplane_bands,
        hyperplane_candidate_pairs,
        hyperplane_planes,
    )

    emb = tracked_persist(_emb(spark, sf_dir))
    bands = hyperplane_bands(emb, hyperplane_planes(spark))
    cand = hyperplane_candidate_pairs(bands)
    return (
        cosine_pairs_for(cand, emb)
        .where(F.col("cosine") >= F.lit(EMB_LSH_TAU))
        .select("vec_id_a", "vec_id_b", "cosine")
    )


_HIGH_NIBBLE = "('8','9','a','b','c','d','e','f')"

ORACLE_EMB_LSH = f"""
    WITH el AS (
      SELECT vec_id, i - 1 AS idx, embedding[i] AS v
      FROM embeddings, range(1, {EMB_DIM} + 1) t(i)),
    planes AS (
      SELECT j, i,
             CASE WHEN substr(md5('h' || j || '|' || i), 1, 1)
                  IN {_HIGH_NIBBLE} THEN 1 ELSE -1 END AS s
      FROM range(0, 16) t1(j), range(0, {EMB_DIM}) t2(i)),
    bits AS (
      SELECT vec_id, j,
             CASE WHEN SUM(CAST(FLOOR(CAST(v AS DOUBLE) * {_Q}) AS BIGINT) * s) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM el JOIN planes ON el.idx = planes.i
      GROUP BY vec_id, j),
    bands AS (
      SELECT vec_id, j // 4 AS band,
             SUM(bit * CAST(CASE CAST(j % 4 AS INT)
                            WHEN 0 THEN 1 WHEN 1 THEN 2
                            WHEN 2 THEN 4 ELSE 8 END AS BIGINT)) AS band_val
      FROM bits GROUP BY vec_id, j // 4),
    ok AS (
      SELECT band, band_val FROM bands GROUP BY band, band_val
      HAVING COUNT(*) <= 64),
    kept AS (SELECT b.* FROM bands b JOIN ok USING (band, band_val)),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id),
    dots AS (
      SELECT p.vec_id_a, p.vec_id_b, {_DOT_SQL} AS dot
      FROM cand p
      JOIN el a ON a.vec_id = p.vec_id_a
      JOIN el b ON b.vec_id = p.vec_id_b AND b.idx = a.idx
      GROUP BY p.vec_id_a, p.vec_id_b),
    norms AS (SELECT vec_id, {_NORM_SQL} AS norm_sq FROM el GROUP BY vec_id)
    SELECT vec_id_a, vec_id_b,
           dot / NULLIF(sqrt(an.norm_sq) * sqrt(bn.norm_sq), 0) AS cosine
    FROM dots
    JOIN norms an ON an.vec_id = vec_id_a
    JOIN norms bn ON bn.vec_id = vec_id_b
    WHERE dot / NULLIF(sqrt(an.norm_sq) * sqrt(bn.norm_sq), 0) >= {EMB_LSH_TAU}
"""


COSINE_PAIR_THRESHOLD = 0.25
PAIR_ID_WINDOW = 25


def embedding_cosine_pairs(spark, sf_dir):
    """Near-dup pairs: label-blocked, id-window-bounded, cosine >= τ.

    The label block + id window is the demo blocking strategy; at
    scale the candidate set comes from LSH/IVF buckets instead (same
    exact kernel underneath).
    """
    emb = _emb(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("vec_id_a"), "label")
    b = emb.select(F.col("vec_id").alias("vec_id_b"), "label")
    cand = a.join(b, on="label").where(
        (F.col("vec_id_b") > F.col("vec_id_a"))
        & (F.col("vec_id_b") - F.col("vec_id_a") <= PAIR_ID_WINDOW)
    )
    sims = cosine_pairs_for(cand, emb)
    return sims.where(F.col("cosine") >= COSINE_PAIR_THRESHOLD).select(
        "vec_id_a", "vec_id_b", "label", "cosine"
    )


ORACLE_COSINE_PAIRS = f"""
    WITH el AS ({_EMB_EL}),
    cand AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid, a.label
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND b.vec_id > a.vec_id
       AND b.vec_id - a.vec_id <= {PAIR_ID_WINDOW}),
    dots AS (
      SELECT c.qid, c.cid, c.label, {_DOT_SQL} AS dot
      FROM cand c
      JOIN el a ON a.vec_id = c.qid
      JOIN el b ON b.vec_id = c.cid AND b.idx = a.idx
      GROUP BY c.qid, c.cid, c.label),
    norms AS (SELECT vec_id, {_NORM_SQL} AS norm_sq FROM el GROUP BY vec_id)
    SELECT qid AS vec_id_a, cid AS vec_id_b, label,
           dot / NULLIF(sqrt(qn.norm_sq) * sqrt(cn.norm_sq), 0) AS cosine
    FROM dots JOIN norms qn ON qn.vec_id = qid
              JOIN norms cn ON cn.vec_id = cid
    WHERE dot / NULLIF(sqrt(qn.norm_sq) * sqrt(cn.norm_sq), 0) >= {COSINE_PAIR_THRESHOLD}
"""


# Mutual-kNN graph: nodes are a deterministic slice of the corpus
# (vec_id % 7) — at 100 TB the node set is an IVF cell / LSH bucket
# family and candidates come from those buckets; here the bounded
# exact kernel inside mutual_knn_graph is the whole story.
KNN_NODE_MOD = 7
KNN_K = 4


def knn_graph_mutual(spark, sf_dir):
    """Mutual-kNN similarity graph (operators/similarity.py::
    mutual_knn_graph): edge kept iff each endpoint is in the other's
    exact-cosine top-k. The noise-suppressed graph that feeds
    clustering/dedup; the oracle re-derives top-k both ways, so a
    green row proves the mutuality filter, not just the kNN."""
    from hha_spark.operators.similarity import mutual_knn_graph

    emb = _emb(spark, sf_dir)
    nodes = emb.where(F.col("vec_id") % KNN_NODE_MOD == 0)
    out = mutual_knn_graph(nodes, k=KNN_K)
    return _cast_longs(out, ["rank_ab", "rank_ba"])


ORACLE_KNN_MUTUAL = f"""
    WITH el AS ({_EMB_EL}),
    n_el AS (SELECT * FROM el WHERE vec_id % {KNN_NODE_MOD} = 0),
    dots AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid, {_DOT_SQL} AS dot
      FROM n_el a JOIN n_el b USING (idx)
      WHERE a.vec_id <> b.vec_id
      GROUP BY a.vec_id, b.vec_id),
    norms AS (SELECT vec_id, {_NORM_SQL} AS norm_sq
              FROM n_el GROUP BY vec_id),
    sims AS (
      SELECT qid, cid,
             dot / NULLIF(sqrt(qn.norm_sq) * sqrt(cn.norm_sq), 0) AS cosine
      FROM dots JOIN norms qn ON qn.vec_id = qid
                JOIN norms cn ON cn.vec_id = cid),
    ranked AS (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid) AS rank
      FROM sims),
    topk AS (SELECT * FROM ranked WHERE rank <= {KNN_K})
    SELECT f.qid AS vec_id_a, f.cid AS vec_id_b, f.cosine,
           CAST(f.rank AS BIGINT) AS rank_ab,
           CAST(r.rank AS BIGINT) AS rank_ba
    FROM topk f JOIN topk r ON r.qid = f.cid AND r.cid = f.qid
    WHERE f.qid < f.cid
"""


# --- text analysis ----------------------------------------------------------

def text_stats_docs(spark, sf_dir):
    out = text_stats(_docs(spark, sf_dir))
    return _cast_longs(out, ["n_tokens", "n_distinct_tokens", "n_chars"])


ORACLE_TEXT_STATS = """
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           (length(text) - (len(toks) - 1)) / len(toks) AS mean_token_len
    FROM t
"""


def text_langid(spark, sf_dir):
    out = language_id(_docs(spark, sf_dir))
    return _cast_longs(out, [f"hits_{lang}" for lang in STOPWORDS])


def _hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"CAST(len(list_filter(string_split(text, ' '), "
        f"t -> t IN ({words}))) AS BIGINT)"
    )


ORACLE_LANGID = f"""
    WITH h AS (
      SELECT doc_id,
             {_hits_sql('en')} AS hits_en,
             {_hits_sql('es')} AS hits_es,
             {_hits_sql('de')} AS hits_de,
             {_hits_sql('fr')} AS hits_fr
      FROM documents)
    SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
           CASE WHEN hits_en >= hits_es AND hits_en >= hits_de
                     AND hits_en >= hits_fr AND hits_en > 0 THEN 'en'
                WHEN hits_es >= hits_de AND hits_es >= hits_fr
                     AND hits_es > 0 THEN 'es'
                WHEN hits_de >= hits_fr AND hits_de > 0 THEN 'de'
                WHEN hits_fr > 0 THEN 'fr'
                ELSE 'unknown' END AS lang_guess
    FROM h
"""


def text_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir)).withColumn(
        "quality_score", F.col("quality_score").cast("long")
    )


ORACLE_QUALITY = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             (CASE WHEN len(toks) BETWEEN 20 AND 400 THEN 1 ELSE 0 END
              + CASE WHEN 10 * len(list_distinct(toks)) >= 3 * len(toks)
                     THEN 1 ELSE 0 END
              + CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
                 AS quality_score
      FROM t)
    SELECT doc_id, CAST(quality_score AS BIGINT) AS quality_score,
           CASE WHEN quality_score >= 3 THEN 'high'
                WHEN quality_score = 2 THEN 'medium'
                ELSE 'low' END AS quality_class
    FROM s
"""


def doc_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


ORACLE_FINGERPRINT = r"""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
           substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp16
    FROM documents
"""


def text_token_count(spark, sf_dir):
    return _cast_longs(token_count_regex(_docs(spark, sf_dir)), ["n_word_tokens"])


ORACLE_TOKEN_COUNT = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{WORD_RE}')) AS BIGINT)
               AS n_word_tokens
    FROM documents
"""


CONTAM_N = 4  # shingle width: real pipelines use 8-13-gram windows;
# 4 matches this synthetic corpus's collision scale (19 hits at
# sf0.01 vs 1 for 5-grams, half the corpus for 3-grams)


def benchmark_contamination(spark, sf_dir):
    """Benchmark-contamination scan: which training documents share an
    n-gram with the held-out benchmark slice (doc_id % 50 == 0 stands
    in for the eval set)? The decontamination pass every pretraining
    pipeline runs before training.

    Scale shape: the benchmark gram set is small by construction
    (eval sets are thousands of docs, not billions), so it BROADCASTS
    to the training postings — the 100-TB training side never
    shuffles; each partition filters its grams against the broadcast
    hash locally and only hits reach the per-doc count aggregation.
    """
    # shingling is the shared expensive prefix of both branches —
    # build it once and persist (same reuse shape as
    # dedup_minhash_recall), instead of re-tokenizing the corpus for
    # each side of the join
    docs = tracked_persist(with_shingle_set(
        _docs(spark, sf_dir), n=CONTAM_N, out_col="grams"
    ))
    bench_grams = (
        docs.where(F.col("doc_id") % 50 == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = docs.where(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    # grams are distinct per doc and in the benchmark set, so the join
    # multiplicity is exactly one per (doc, shared gram)
    return (
        train.join(F.broadcast(bench_grams), on="gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


_GRAM_PARTS = " || ' ' || ".join(f"toks[i + {k}]" for k in range(CONTAM_N))
_GRAMS_N = f"""
      CASE WHEN len(toks) >= {CONTAM_N} THEN
        list_distinct(list_transform(generate_series(1, len(toks) - {CONTAM_N - 1}),
          i -> {_GRAM_PARTS}))
      ELSE [] END
"""

ORACLE_CONTAMINATION = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, {_GRAMS_N} AS grams FROM t),
    bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh
              WHERE doc_id % 50 = 0),
    train AS (SELECT doc_id, unnest(grams) AS gram FROM sh
              WHERE doc_id % 50 <> 0)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM train JOIN bench USING (gram)
    GROUP BY doc_id
"""


def text_repetition(spark, sf_dir):
    """Gopher-style repetition metrics per document: duplicate-token
    fraction and the fraction of the text covered by the most frequent
    token / bigram. High values flag boilerplate and degenerate docs
    before they reach training.

    Two explode->count aggregations (token, bigram), each keyed on
    (doc_id, term) — map-side combinable, no per-doc quadratic array
    scans — then a per-doc max and one join back to the doc stats.
    Fractions are single IEEE divisions of exact integers, identical
    across engines.
    """
    t = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    base = t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )
    top_tok = (
        t.select("doc_id", F.explode("toks").alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_token_cnt"))
    )
    bigrams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1))) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    top_bg = (
        bigrams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_cnt"))
    )
    return (
        base.join(top_tok, on="doc_id")
        .join(top_bg, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_token_cnt",
            F.coalesce("top_bigram_cnt", F.lit(0)).cast("long").alias("top_bigram_cnt"),
            (F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens")).alias(
                "dup_token_frac"
            ),
            (F.col("top_token_cnt") / F.col("n_tokens")).alias("top_token_frac"),
            F.when(
                F.col("n_tokens") >= 2,
                F.coalesce("top_bigram_cnt", F.lit(0))
                / (F.col("n_tokens") - F.lit(1)),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


ORACLE_REPETITION = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
             FROM t),
    tcnt AS (SELECT doc_id, MAX(c) AS top_token_cnt
             FROM (SELECT doc_id, tk, COUNT(*) AS c
                   FROM (SELECT doc_id, unnest(toks) AS tk FROM t)
                   GROUP BY doc_id, tk)
             GROUP BY doc_id),
    bcnt AS (SELECT doc_id, MAX(c) AS top_bigram_cnt
             FROM (SELECT doc_id, g, COUNT(*) AS c
                   FROM (SELECT doc_id,
                                unnest(CASE WHEN len(toks) >= 2 THEN
                                  list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i] || ' ' || toks[i + 1])
                                ELSE [] END) AS g
                         FROM t)
                   GROUP BY doc_id, g)
             GROUP BY doc_id)
    SELECT base.doc_id, n_tokens, n_distinct,
           CAST(top_token_cnt AS BIGINT) AS top_token_cnt,
           CAST(COALESCE(top_bigram_cnt, 0) AS BIGINT) AS top_bigram_cnt,
           1.0 - n_distinct / n_tokens AS dup_token_frac,
           top_token_cnt / n_tokens AS top_token_frac,
           CASE WHEN n_tokens >= 2
                THEN COALESCE(top_bigram_cnt, 0) / (n_tokens - 1)
                ELSE 0.0 END AS top_bigram_frac
    FROM base
    JOIN tcnt ON base.doc_id = tcnt.doc_id
    LEFT JOIN bcnt ON base.doc_id = bcnt.doc_id
"""


def embedding_hof_features(spark, sf_dir):
    """Higher-order-function family over the embedding arrays —
    zip_with / aggregate (fold) / filter / exists / transform+slice —
    all JVM-side lambda expressions inside whole-stage codegen, the
    idiomatic alternative to exploding 64 rows per vector for
    per-element math.

    Determinism: every folded sum is over floor-quantized BIGINTs
    (the similarity.py picounit contract) — both engines fold exact
    integers, so accumulation order can't leak rounding. The oracle
    writes zip_with(e, e, a*b) as v*v (DuckDB's list_zip yields
    structs, not pairwise arithmetic) — identical values by
    definition."""
    q = "1000000000000"
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.expr(
            f"aggregate(zip_with(embedding, embedding, (a, b) -> "
            f"CAST(FLOOR(CAST(a AS DOUBLE) * CAST(b AS DOUBLE) * {q}) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("self_dot_q"),
        F.expr(
            f"aggregate(transform(embedding, v -> "
            f"CAST(FLOOR(ABS(CAST(v AS DOUBLE)) * {q}) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("l1_q"),
        F.expr("CAST(size(filter(embedding, v -> v > 0)) AS BIGINT)").alias(
            "n_pos"
        ),
        F.expr("exists(embedding, v -> ABS(v) > 0.3)").alias("has_big"),
        F.expr(
            "concat_ws(',', transform(slice(embedding, 1, 3), "
            "v -> CAST(CAST(FLOOR(CAST(v AS DOUBLE) * 100) AS BIGINT) AS STRING)))"
        ).alias("head3_centi"),
    )


ORACLE_HOF = f"""
    SELECT vec_id,
           CAST(list_aggregate(list_transform(embedding, v ->
             CAST(FLOOR(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                        * {_Q}) AS BIGINT)), 'sum') AS BIGINT) AS self_dot_q,
           CAST(list_aggregate(list_transform(embedding, v ->
             CAST(FLOOR(ABS(CAST(v AS DOUBLE)) * {_Q}) AS BIGINT)), 'sum')
               AS BIGINT) AS l1_q,
           CAST(len(list_filter(embedding, v -> v > 0)) AS BIGINT) AS n_pos,
           len(list_filter(embedding, v -> ABS(v) > 0.3)) > 0 AS has_big,
           array_to_string(list_transform(embedding[1:3], v ->
             CAST(CAST(FLOOR(CAST(v AS DOUBLE) * 100) AS BIGINT) AS VARCHAR)),
             ',') AS head3_centi
    FROM embeddings
"""


def doc_array_features(spark, sf_dir):
    """Array-function family coverage: sort/slice/contains/positions
    over the token arrays (array outputs are flattened to strings so
    the value-hash comparison stays representation-independent)."""
    docs = with_token_set(_docs(spark, sf_dir))
    return docs.select(
        "doc_id",
        F.expr(
            "concat_ws(',', slice(array_sort(tokens), 1, 3))"
        ).alias("first3_sorted"),
        F.array_contains("tokens", "the").alias("has_the"),
        F.expr("CAST(array_position(array_sort(tokens), 'spark') AS BIGINT)").alias(
            "spark_pos"
        ),
        F.expr("size(array_sort(tokens))").cast("long").alias("n_tokens"),
    )


ORACLE_ARRAY = """
    WITH t AS (
      SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
      FROM documents)
    SELECT doc_id,
           array_to_string(list_slice(toks, 1, 3), ',') AS first3_sorted,
           list_contains(toks, 'the') AS has_the,
           CAST(COALESCE(list_position(toks, 'spark'), 0) AS BIGINT) AS spark_pos,
           CAST(len(toks) AS BIGINT) AS n_tokens
    FROM t
"""


def corpus_vocabulary(spark, sf_dir):
    """Top-50 corpus terms by document frequency (ties by term) —
    the vocabulary/DF statistics a dedup or filtering pipeline keeps."""
    docs = with_token_set(_docs(spark, sf_dir))
    postings = docs.select("doc_id", F.explode("tokens").alias("tok"))
    return (
        postings.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("tok"))
        .limit(50)
    )


ORACLE_VOCAB = """
    WITH postings AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents)
    SELECT tok, COUNT(*) AS doc_freq
    FROM postings GROUP BY tok
    ORDER BY doc_freq DESC, tok
    LIMIT 50
"""


def doc_top_terms(spark, sf_dir):
    """Top-3 distinctive terms per doc by a log-free tf-idf analogue:
    score = tf * N / df (same ranking as tf-idf for a fixed doc since
    log is monotone; avoids ln(), whose last-ulp behavior is
    libm-specific and would break cross-engine hashing)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # df derives FROM tf: tf's key set IS the distinct (doc_id, tok)
    # pairs, so document frequency is a second aggregation over the
    # already-reduced frame — the exploded token frame has exactly one
    # consumer and needs no persist (r3 persisted it and paid more for
    # materializing the explosion than the re-read it saved; at 100 TB
    # caching an exploded-bigger-than-input frame is still the wrong
    # trade, reuse-after-reduction is the scalable shape)
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, on="tok")
        .join(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.col("n_docs") / F.col("df"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .where(F.col("term_rank") <= 3)
        .select("doc_id", "tok", F.col("tf").alias("term_freq"), "score", "term_rank")
    )


ORACLE_TOP_TERMS = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT tok, COUNT(*) AS df
           FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, tf.tf * n.n_docs / df.df AS score
      FROM tf JOIN df USING (tok) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, tok, tf AS term_freq, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, tok) AS BIGINT)
                 AS term_rank
      FROM scored)
    SELECT * FROM ranked WHERE term_rank <= 3
"""


# --- multimodal plumbing ----------------------------------------------------

def multimodal_blob_stats(spark, sf_dir):
    """Arrow-batched mapInPandas over a binary payload column."""
    return blob_stats(with_blob(_docs(spark, sf_dir)))


ORACLE_BLOB = """
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS blob_md5
    FROM documents
"""


FRAME_EVERY_N = 2


def multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling FAN-OUT under the oracle gate: every sampled
    64-byte 'frame' of each binary payload becomes its own row
    (doc_id, frame_idx, frame_md5) via Arrow-batched mapInPandas —
    the one-to-many batch contract a real video frame sampler uses
    (operators/multimodal.py::fake_frame_sample; the real decoder
    stays an explicit stub, the PLUMBING is what is driver-verified).
    The payload is UTF-8 of ASCII text, so the DuckDB oracle mirrors
    the byte chunking with substr + md5 exactly — the gate checks the
    fan-out row set, the stride sampling, and the tail-chunk edge
    cases, not just a 1:1 map like multimodal_blob_stats.

    PRECONDITION (oracle-side only, verified over every fixture SF:
    zero non-ASCII docs): the oracle's substr is CHARACTER-based while
    the operator chunks BYTES, so they coincide only for single-byte
    text. The operator itself is byte-correct for any payload; a
    multi-byte fixture would need a byte-slicing oracle
    (substr(unhex(hex(text))...) instead."""
    from hha_spark.operators.multimodal import fake_frame_sample, with_blob

    return fake_frame_sample(
        with_blob(_docs(spark, sf_dir)), every_n=FRAME_EVERY_N
    )


ORACLE_FRAME_SAMPLE = f"""
    WITH f AS (
      SELECT doc_id, text,
             greatest(1, strlen(text) // 64) AS n_frames
      FROM documents),
    g AS (
      SELECT doc_id, text,
             unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT),
                                    {FRAME_EVERY_N})) AS i
      FROM f)
    SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
           md5(substr(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS frame_md5
    FROM g
"""


def dedup_graph_triangles(spark, sf_dir):
    """Triangle count of the near-dup pair graph — the standard
    cluster-cohesion diagnostic (triangle-dense neighborhoods are true
    duplicate cliques; triangle-free stars are often false positives
    from one hub doc). One wedge join on the shared middle vertex plus
    one closing-edge semi-join, both equi-joins on the persisted pair
    frame; canonical id-ordering (a<b<c) counts each triangle exactly
    once. Id-orientation is the simple variant — at extreme skew the
    production upgrade is degree-orientation, which bounds wedge
    fan-out by graph arboricity; here the upstream MAX_LSH_BUCKET cap
    already bounds any vertex's degree.
    """
    pairs = tracked_persist(
        _minhash_lsh_from(with_token_set(_docs(spark, sf_dir)))
        .select("doc_id_a", "doc_id_b")
    )
    wedges = pairs.select(
        F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")
    ).join(
        pairs.select(F.col("doc_id_a").alias("b"), F.col("doc_id_b").alias("c")),
        on="b",
    )
    closed = wedges.join(
        pairs.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("c")),
        on=["a", "c"],
        how="left_semi",
    )
    return pairs.agg(F.count(F.lit(1)).alias("n_edges")).join(
        closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    )


ORACLE_TRIANGLES = f"""
    WITH p AS (SELECT doc_id_a, doc_id_b FROM ({ORACLE_MINHASH}))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM p e1
    JOIN p e2 ON e1.doc_id_b = e2.doc_id_a
    JOIN p e3 ON e3.doc_id_a = e1.doc_id_a AND e3.doc_id_b = e2.doc_id_b
"""


def dedup_quality_survivors(spark, sf_dir):
    """The dedup stack's PAYOFF decision: for every near-dup cluster,
    which single document survives? Survivor = highest quality score,
    ties to the lowest doc_id — the policy that upgrades naive
    keep-min-id (dedup_survivors) once a quality signal exists.
    Composes the verified pieces end-to-end: MinHash-LSH pairs ->
    transitive clusters (operators/cluster.py) -> quality join ->
    per-cluster argmax (a window over cluster-sized groups; cluster
    cardinality is bounded by the LSH bucket cap, so no skewed
    partitions). One row per cluster."""
    from hha_spark.operators.cluster import cluster_members

    pairs = _minhash_lsh_from(with_token_set(_docs(spark, sf_dir))).select(
        "doc_id_a", "doc_id_b"
    )
    members = cluster_members(pairs)
    q = quality_score(_docs(spark, sf_dir)).select("doc_id", "quality_score")
    joined = members.join(q, on="doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            "cluster_size",
            F.col("quality_score").cast("long").alias("survivor_quality"),
        )
    )


ORACLE_QUALITY_SURVIVORS = f"""
    WITH clustered AS ({ORACLE_CLUSTERS}),
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id,
             CAST(CASE WHEN len(toks) BETWEEN 20 AND 400 THEN 1 ELSE 0 END
                  + CASE WHEN 10 * len(list_distinct(toks)) >= 3 * len(toks)
                         THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
               AS BIGINT) AS quality_score
      FROM t),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, c.cluster_size, q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality_score DESC, c.doc_id)
                 AS rn
      FROM clustered c JOIN q USING (doc_id))
    SELECT cluster_id, doc_id AS survivor_doc_id, cluster_size,
           quality_score AS survivor_quality
    FROM ranked WHERE rn = 1
"""


PR_Q = 1_000_000        # rank unit (micro-ranks)
PR_ITERS = 2            # unrolled in the oracle CTEs
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100   # damping 0.85, exact in ints
PR_BASE = PR_Q * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN  # 0.15·Q


def dedup_graph_pagerank(spark, sf_dir):
    """PageRank over the near-dup graph in EXACT integer arithmetic —
    the doc-authority signal corpus curation uses to pick cluster
    survivors (a doc many near-dups point at is the canonical copy;
    a leaf near-dup of one hub is noise). All math is integer: each
    node sends pr DIV degree to every neighbor, receives
    0.15·Q + (85·Σ msgs) DIV 100 — no float accumulation anywhere, so
    partial-aggregation order and the DuckDB oracle agree exactly.
    Two unrolled rounds (matching the oracle CTEs); every node of the
    symmetric pair graph has degree >= 1, so there are no dangling
    nodes. Per round: one equi-join to attach sender ranks + one
    keyed aggregation — linear in |E|, the textbook message-passing
    shape at 100 TB."""
    pairs = tracked_persist(
        _minhash_lsh_from(with_token_set(_docs(spark, sf_dir)))
        .select("doc_id_a", "doc_id_b")
    )
    sym = pairs.select(
        F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
    ).unionByName(
        pairs.select(F.col("doc_id_b").alias("u"), F.col("doc_id_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(F.col("u").alias("node"), F.lit(PR_Q).cast("long").alias("pr"))
    for _ in range(PR_ITERS):
        msgs = (
            sym.join(
                ranks.select(F.col("node").alias("v"), "pr"), on="v"
            )
            .join(deg.select(F.col("u").alias("v"), "deg"), on="v")
            .groupBy("u")
            .agg(F.sum(F.expr("pr DIV deg")).alias("s"))
        )
        ranks = msgs.select(
            F.col("u").alias("node"),
            (F.lit(PR_BASE) + F.expr(f"({PR_DAMP_NUM} * s) DIV {PR_DAMP_DEN}"))
            .cast("long")
            .alias("pr"),
        )
    return ranks.select(F.col("node").alias("doc_id"), F.col("pr").alias("pagerank_q"))


def _pr_round_sql(prev: str, out: str) -> str:
    return f"""
    m_{out} AS (
      SELECT e.u, SUM(r.pr // d.deg) AS s
      FROM e JOIN {prev} r ON r.node = e.v
             JOIN deg d ON d.u = e.v
      GROUP BY e.u),
    {out} AS (
      SELECT u AS node,
             CAST({PR_BASE} + ({PR_DAMP_NUM} * s) // {PR_DAMP_DEN} AS BIGINT) AS pr
      FROM m_{out})
"""


ORACLE_PAGERANK = f"""
    WITH pairs AS (SELECT doc_id_a, doc_id_b FROM ({ORACLE_MINHASH})),
    e AS (SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
          UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY u),
    r0 AS (SELECT u AS node, CAST({PR_Q} AS BIGINT) AS pr FROM deg),
    {_pr_round_sql("r0", "r1")},
    {_pr_round_sql("r1", "r2")}
    SELECT node AS doc_id, pr AS pagerank_q FROM r2
"""


CHUNK_SIZE = 40  # tokens per training chunk
CHUNK_STRIDE = 30  # overlap = CHUNK_SIZE - CHUNK_STRIDE


def doc_chunking(spark, sf_dir):
    """Fixed-size token-window chunking with stride — how documents
    become training sequences. Pure JVM array work: one split per
    doc, a sequence() of chunk starts, posexplode, slice + md5 per
    chunk; no shuffle at all until a downstream consumer groups the
    chunks (this query adds none — it's a narrow map over the scan,
    which is exactly what you want when chunking 100 TB: linear,
    partition-local, no state).

    Chunk grid: starts at 0, stride CHUNK_STRIDE, plus a tail chunk
    whenever tokens remain past the last full window; single-window
    docs emit exactly one chunk.

    fanout=False: this query's contract (and plan test) is
    shuffle-freedom — at scale its parallelism comes from input
    splits, so it skips the small-file fan-out repartition.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=False).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = F.size("toks")
    # last start index: largest stride multiple <= n - CHUNK_SIZE (or 0)
    last = F.greatest(
        F.lit(0),
        ((n - F.lit(CHUNK_SIZE)) / F.lit(CHUNK_STRIDE)).cast("int")
        * F.lit(CHUNK_STRIDE),
    )
    chunks = docs.select(
        "doc_id",
        "toks",
        F.posexplode(F.sequence(F.lit(0), last, F.lit(CHUNK_STRIDE))).alias(
            "chunk_idx", "start"
        ),
    )
    chunk_toks = F.slice("toks", F.col("start") + 1, CHUNK_SIZE)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(chunk_toks).cast("long").alias("n_tokens"),
        F.md5(F.array_join(chunk_toks, " ")).alias("chunk_md5"),
    )


ORACLE_CHUNKING = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, toks,
             GREATEST(0, CAST(TRUNC(CAST(len(toks) - {CHUNK_SIZE} AS DOUBLE)
                              / {CHUNK_STRIDE}) AS INT) * {CHUNK_STRIDE})
                 AS last_start
      FROM t),
    c AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, last_start, {CHUNK_STRIDE})) AS start
      FROM g)
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(len(list_slice(toks, start + 1, start + {CHUNK_SIZE}))
                AS BIGINT) AS n_tokens,
           md5(list_aggregate(list_slice(toks, start + 1, start + {CHUNK_SIZE}),
                              'string_agg', ' ')) AS chunk_md5
    FROM c
"""


PACK_CAPACITY = 512  # tokens per packed training sequence


def doc_packing_bins(spark, sf_dir):
    """Sequence packing: assign whole documents to fixed-capacity
    training bins by cumulative token count (running-sum DIV
    capacity) — the deterministic, shuffle-friendly approximation of
    greedy first-fit packing (a truly optimal packer is sequential;
    this one is one window over a deterministic order and is what
    scale pipelines actually run). Bins are per SOURCE so the window
    partitions by a real key rather than running global; output is
    per-bin occupancy — the packing-efficiency report.
    """
    from pyspark.sql import Window

    toks = _docs(spark, sf_dir).select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = toks.withColumn(
        "bin_id",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_CAPACITY).cast(
            "long"
        ),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


ORACLE_PACKING = f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    binned AS (
      SELECT source, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) - n_tokens)
                  // {PACK_CAPACITY} AS BIGINT) AS bin_id
      FROM toks)
    SELECT source, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM binned GROUP BY source, bin_id
"""


def doc_token_count_map(spark, sf_dir):
    """MapType surface over the corpus: per-document token-count MAPS
    built with map_from_entries, thinned with map_filter (count >= 3),
    rescaled with transform_values (count^2) — then EXPLODED back to
    rows, because sorted rows hash deterministically across engines
    while raw map column ordering does not. n_distinct rides the
    pre-filter map's cardinality. The map ops run inside the JVM per
    row (no shuffle beyond the one token-count aggregation); the
    oracle recomputes the same answer relationally, never touching a
    map — proving the map pipeline against first principles.
    """
    counts = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    maps = counts.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("token", "cnt"))).alias("tok_map")
    )
    shaped = maps.select(
        "doc_id",
        F.size("tok_map").cast("long").alias("n_distinct"),
        F.transform_values(
            F.map_filter("tok_map", lambda _, v: v >= 3), lambda _, v: v * v
        ).alias("sq_map"),
    )
    return shaped.select(
        "doc_id", "n_distinct", F.explode("sq_map").alias("token", "count_sq")
    )


ORACLE_TOKEN_MAP = """
    WITH counts AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    per AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM counts GROUP BY doc_id, token),
    nd AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM per GROUP BY doc_id)
    SELECT per.doc_id, n_distinct, token, cnt * cnt AS count_sq
    FROM per JOIN nd ON per.doc_id = nd.doc_id
    WHERE cnt >= 3
"""


def text_normalize(spark, sf_dir):
    """Dedup-grade text canonicalization: lowercase, strip everything
    outside [a-z0-9 ], collapse runs of spaces, trim — then emit the
    md5 of the canonical form (the key exact dedup would group on)
    plus its length. All JVM built-in string expressions, a narrow
    map over the scan; regex classes are kept to forms RE2 and Java
    regex evaluate identically.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            "  +",
            " ",
        )
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(norm).cast("long").alias("norm_len"),
        F.md5(norm).alias("norm_md5"),
    )


ORACLE_NORMALIZE = """
    SELECT doc_id,
           CAST(length(norm) AS BIGINT) AS norm_len,
           md5(norm) AS norm_md5
    FROM (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               '  +', ' ', 'g')) AS norm
      FROM documents)
"""


QUERIES = {
    "dedup_exact_docs": dedup_exact_docs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "corpus_split_leakage": corpus_split_leakage,
    "dedup_containment_incremental": dedup_containment_incremental,
    "dedup_trigram_jaccard": dedup_trigram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental": dedup_incremental,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_graph_pagerank": dedup_graph_pagerank,
    "dedup_quality_survivors": dedup_quality_survivors,
    "dedup_minhash_recall": dedup_minhash_recall,
    "dedup_clusters": dedup_clusters,
    "dedup_graph_triangles": dedup_graph_triangles,
    "doc_token_count_map": doc_token_count_map,
    "text_normalize": text_normalize,
    "doc_chunking": doc_chunking,
    "doc_packing_bins": doc_packing_bins,
    "dedup_simhash": dedup_simhash,
    "ann_topk_cosine": ann_topk_cosine,
    "ann_topk_ivf": ann_topk_ivf,
    "ann_topk_ivf_trained": ann_topk_ivf_trained,
    "ann_ivf_recall": ann_ivf_recall,
    "ann_ndcg_eval": ann_ndcg_eval,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "embedding_cosine_pairs": embedding_cosine_pairs,
    "knn_graph_mutual": knn_graph_mutual,
    "doc_array_features": doc_array_features,
    "embedding_hof_features": embedding_hof_features,
    "corpus_vocabulary": corpus_vocabulary,
    "doc_top_terms": doc_top_terms,
    "text_stats_docs": text_stats_docs,
    "text_langid": text_langid,
    "text_quality": text_quality,
    "doc_fingerprint": doc_fingerprint,
    "text_token_count": text_token_count,
    "benchmark_contamination": benchmark_contamination,
    "text_repetition": text_repetition,
    "multimodal_blob_stats": multimodal_blob_stats,
}

ORACLES = {
    "dedup_exact_docs": ORACLE_EXACT,
    "dedup_ngram_jaccard": ORACLE_NGRAM,
    "dedup_containment": ORACLE_CONTAINMENT,
    "corpus_split_leakage": _split_leakage_oracle(),
    "dedup_containment_incremental": ORACLE_CONTAINMENT_INC,
    "dedup_trigram_jaccard": ORACLE_TRIGRAM,
    "dedup_minhash_lsh": ORACLE_MINHASH,
    "dedup_incremental": ORACLE_INCREMENTAL,
    "dedup_simhash_pairs": ORACLE_SIMHASH_PAIRS,
    "dedup_graph_pagerank": ORACLE_PAGERANK,
    "dedup_quality_survivors": ORACLE_QUALITY_SURVIVORS,
    "dedup_minhash_recall": ORACLE_RECALL,
    "dedup_clusters": ORACLE_CLUSTERS,
    "dedup_graph_triangles": ORACLE_TRIANGLES,
    "doc_token_count_map": ORACLE_TOKEN_MAP,
    "text_normalize": ORACLE_NORMALIZE,
    "doc_chunking": ORACLE_CHUNKING,
    "doc_packing_bins": ORACLE_PACKING,
    "dedup_simhash": ORACLE_SIMHASH,
    "ann_topk_cosine": ORACLE_ANN,
    "ann_topk_ivf": ORACLE_ANN_IVF,
    "ann_topk_ivf_trained": ORACLE_ANN_IVF_TRAINED,
    "ann_ivf_recall": ORACLE_IVF_RECALL,
    "ann_ndcg_eval": _ndcg_oracle(),
    "dedup_embedding_lsh": ORACLE_EMB_LSH,
    "embedding_cosine_pairs": ORACLE_COSINE_PAIRS,
    "knn_graph_mutual": ORACLE_KNN_MUTUAL,
    "doc_array_features": ORACLE_ARRAY,
    "embedding_hof_features": ORACLE_HOF,
    "corpus_vocabulary": ORACLE_VOCAB,
    "doc_top_terms": ORACLE_TOP_TERMS,
    "text_stats_docs": ORACLE_TEXT_STATS,
    "text_langid": ORACLE_LANGID,
    "text_quality": ORACLE_QUALITY,
    "doc_fingerprint": ORACLE_FINGERPRINT,
    "text_token_count": ORACLE_TOKEN_COUNT,
    "benchmark_contamination": ORACLE_CONTAMINATION,
    "text_repetition": ORACLE_REPETITION,
    "multimodal_blob_stats": ORACLE_BLOB,
}


def text_gopher_quality(spark, sf_dir):
    """Gopher-style repetition/composition rules at token granularity
    (operators/text.py::gopher_repetition_rules): mode-token cap,
    diversity floor, repeated-bigram coverage cap, length band — all
    exact integer cross-multiplications. Keeps 191/500 at sf0.01, so
    both branches of every rule are exercised.

    Relationship to `text_repetition` below, which reports raw
    repetition FRACTIONS (top-token/top-bigram share, dup-token
    frac): this gate is the RULE layer — integer thresholds composed
    into the keep/drop verdict the Gopher paper actually applies,
    plus repeated-bigram COVERAGE (total occurrence mass of all
    repeated bigrams, which top-1 share misses on docs with many
    moderately-repeated bigrams)."""
    from hha_spark.operators.text import gopher_repetition_rules

    return gopher_repetition_rules(_docs(spark, sf_dir))


ORACLE_GOPHER = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    per AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    uni AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(c) AS BIGINT) AS top_tok_n
      FROM per GROUP BY doc_id),
    big AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s),
    perb AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
    bi AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                 AS dup_bigram_n
      FROM perb GROUP BY doc_id)
    SELECT u.doc_id, u.n_tokens, u.n_distinct, u.top_tok_n,
           CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(b.dup_bigram_n, 0) AS BIGINT) AS dup_bigram_n,
           (u.n_tokens >= 30 AND u.n_tokens <= 90
            AND u.top_tok_n * 100 < u.n_tokens * 12
            AND u.n_distinct * 100 >= u.n_tokens * 40
            AND coalesce(b.dup_bigram_n, 0) * 100
                <= coalesce(b.n_bigrams, 0) * 20) AS keep
    FROM uni u LEFT JOIN bi b USING (doc_id)
"""


QUERIES["text_gopher_quality"] = text_gopher_quality
ORACLES["text_gopher_quality"] = ORACLE_GOPHER


def dedup_canonical_pick(spark, sf_dir):
    """Canonical-representative selection per near-dup cluster — the
    pipeline step AFTER clustering: inside every MinHash-LSH
    transitive-closure cluster keep the best document (longest by
    token count, doc_id as the deterministic tiebreak) and mark the
    rest as drops pointing at their replacement. This is how
    production dedup actually emits its keep-list: clusters are the
    relation, the canonical pick is the decision.

    Output per clustered doc: cluster_id, cluster_size, n_tokens,
    canonical_doc_id (FIRST_VALUE over the total order length desc,
    doc_id asc), is_canonical. The oracle recomputes the clusters via
    the recursive-CTE closure and the identical window, so a green
    row re-proves pairing + closure + selection composed.

    Scale shape: the pick adds ONE window over (cluster_id) on a
    4-column frame — near-dup clusters are small by construction
    (bounded LSH buckets upstream), so no skewed partition; the
    heavy lifting stays in the already-verified cluster_members
    (O(log n) rounds).
    """
    from hha_spark.operators.cluster import cluster_members

    docs = _docs(spark, sf_dir)
    pairs = _minhash_lsh_from(with_token_set(docs)).select(
        "doc_id_a", "doc_id_b"
    )
    members = cluster_members(pairs)
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    j = members.join(toks, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return j.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "n_tokens",
        F.first("doc_id").over(w).alias("canonical_doc_id"),
    ).withColumn(
        "is_canonical", F.col("doc_id") == F.col("canonical_doc_id")
    )


ORACLE_CANONICAL = f"""
    WITH clustered AS ({ORACLE_CLUSTERS}),
    toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    j AS (
      SELECT c.doc_id, c.cluster_id, c.cluster_size, t.n_tokens
      FROM clustered c JOIN toks t USING (doc_id))
    SELECT doc_id, cluster_id, cluster_size, n_tokens,
           FIRST_VALUE(doc_id) OVER (
             PARTITION BY cluster_id ORDER BY n_tokens DESC, doc_id
           ) AS canonical_doc_id,
           doc_id = FIRST_VALUE(doc_id) OVER (
             PARTITION BY cluster_id ORDER BY n_tokens DESC, doc_id
           ) AS is_canonical
    FROM j
"""


QUERIES["dedup_canonical_pick"] = dedup_canonical_pick
ORACLES["dedup_canonical_pick"] = ORACLE_CANONICAL


IVF_INGEST_MOD = 8  # vec_id % 8 == 3 plays the newly-arriving batch


def ann_ivf_assign_incremental(spark, sf_dir):
    """Incremental IVF ingest (operators/ivf.py::ivf_assign_new): the
    codebook is trained on the CORPUS slice only (vec_id % 8 != 3),
    then the batch slice is assigned against that FIXED codebook —
    FAISS train()-then-add(), the serving-index admission shape. Per
    batch vector: its cell, the cell's pre-ingest corpus occupancy,
    and how many batchmates landed in the same cell (the rebalance
    signal). The oracle unrolls the corpus-only Lloyd rounds and the
    fixed-codebook batch argmin, so a green row proves the batch
    never leaked into training."""
    from hha_spark.operators.ivf import ivf_assign_new

    emb = tracked_persist(_emb(spark, sf_dir))
    is_batch = F.col("vec_id") % IVF_INGEST_MOD == 3
    return ivf_assign_new(
        emb.where(~is_batch),
        emb.where(is_batch),
        iters=IVF_ITERS,
        train_key=f"{sf_dir}|ingest-corpus",
    )


ORACLE_IVF_ASSIGN_INC = f"""
    WITH el AS ({_EMB_EL}),
    el_c AS (SELECT * FROM el WHERE vec_id % {IVF_INGEST_MOD} <> 3),
    el_b AS (SELECT * FROM el WHERE vec_id % {IVF_INGEST_MOD} = 3),
    cells0 AS (
      SELECT vec_id,
             (CASE WHEN embedding[1] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) AS cell
      FROM embeddings WHERE vec_id % {IVF_INGEST_MOD} <> 3),
    {_kmeans_iter_sql("cells0", "icent1", "id1", el="el_c")},
    icells1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rnk
        FROM id1) WHERE rnk = 1),
    {_kmeans_iter_sql("icells1", "icent2", "id2", el="el_c")},
    icells2 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rnk
        FROM id2) WHERE rnk = 1),
    occ AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_corpus
      FROM icells2 GROUP BY cell),
    db AS (
      SELECT vec_id, cell,
             SUM(CAST(FLOOR((CAST(v AS DOUBLE) - c) * (CAST(v AS DOUBLE) - c)
                            * {_Q}) AS BIGINT)) AS dq
      FROM el_b JOIN icent2 USING (idx) GROUP BY vec_id, cell),
    bcells AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rnk
        FROM db) WHERE rnk = 1)
    SELECT b.vec_id, CAST(b.cell AS BIGINT) AS cell,
           CAST(COALESCE(o.n_corpus, 0) AS BIGINT) AS n_corpus,
           CAST(COUNT(*) OVER (PARTITION BY b.cell) AS BIGINT)
             AS n_new_in_cell
    FROM bcells b LEFT JOIN occ o USING (cell)
"""


QUERIES["ann_ivf_assign_incremental"] = ann_ivf_assign_incremental
ORACLES["ann_ivf_assign_incremental"] = ORACLE_IVF_ASSIGN_INC


QUERIES["multimodal_frame_sample"] = multimodal_frame_sample
ORACLES["multimodal_frame_sample"] = ORACLE_FRAME_SAMPLE
