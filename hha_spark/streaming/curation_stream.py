"""Incremental streaming curation funnel — the END-TO-END pipeline
(Gopher quality rules -> MinHash-LSH near-dup clustering of the
survivors -> temperature mixture -> token-budget fill) maintained
ACROSS micro-batches, composing the round-8 achievements: the
versioned kind-partitioned store discipline (streaming/sessionize.py)
applied to the composed curation chain (queries/corpus.py::
curation_funnel). `stream_dedup_incremental` proved the streaming
shape for LSH screening alone; this module proves it for the whole
funnel: the flush equals the batch funnel EXACTLY, for ANY
micro-batch split of the corpus, with NO ordering contract — every
stage is either stateless per doc, additive, or an order-independent
closure.

Per arriving batch of documents:
  * Gopher verdicts are stateless per doc — computed on arrival, only
    survivors enter the store (kind=doc: source, exact token count,
    distinct-token set; the token set is the pipeline's corpus store,
    needed to Jaccard-verify future candidates against old docs).
  * MinHash signatures and LSH band keys are narrow per-row maps —
    computed on arrival, appended (kind=band).
  * Candidate pairs are INCREMENTAL: the batch's band keys join the
    accumulated band table (both sides bucket-capped, see below); the
    Jaccard>=0.7 verification joins the stored token sets. Verified
    edges append with their (band, key) provenance (kind=edge).
  * Cluster labels (min doc_id reachable — the keep-min-id dedup
    policy) fold incrementally: closure over (previous labels as
    edges) UNION (new edges) equals closure over all valid edges,
    because folding a closure into node->label edges preserves
    components and min ids. The closure inputs ride the epoch's ONE
    tagged-union probe (envelope-capped Arrow collect) and the
    union-find runs on the driver — the closure operator's own small
    path (operators/cluster.py::_union_find_arrow) without a second
    probe action; over the envelope the epoch falls back to the
    distributed O(log n) kernel on the exact same frames.
  * Raw per-source doc counts append additively (kind=raw).

THE BUCKET-CAP RECONCILIATION ARGUMENT. The batch funnel drops LSH
buckets larger than MAX_LSH_BUCKET (template noise) — a bucket's
final size is only known once the stream ends, so capping is
NON-MONOTONE and naive incremental pairing would disagree with batch
whenever a bucket crosses the cap mid-stream (early pairs from a
bucket that later turns out to be template noise). But bucket sizes
only GROW, so over-cap is MONOTONE: a bucket over the cap now is over
forever, and a bucket under the FINAL cap was under it at every
earlier epoch. Therefore:
  * generation is COMPLETE: for any pair (a, b) sharing a
    final-under-cap bucket B, when the later of the two arrived B was
    under the cap, so the edge was generated with provenance B;
  * generation is REVOCABLE: when a bucket CROSSES the cap (previous
    count in [2, cap], new count above it — the only case with
    possibly-stored edges), the epoch recomputes labels from scratch
    over the edge history filtered to currently-under-cap provenance;
    epochs after the last crossing fold only still-valid edges.
So the final labels equal the batch closure over exactly the
batch-capped pair set. Crossing epochs are rare (few buckets ever
exceed the cap — they are the template-noise tail by construction)
and the recompute reads only the stored EDGE table (LSH-pruned,
corpus-small), never re-pairs the corpus.

Store layout (one versioned kind-partitioned write per epoch — the
sessionize store discipline; deterministic from the pre-state read
via before_epoch, so epoch retries rewrite the same bytes):
  kind=doc    (doc_id, source, n_tokens, tokens)   append-only
  kind=band   (doc_id, band, key)                  append-only
  kind=edge   (doc_id, doc_id_b, band, key)        append-only
  kind=raw    (source, n)                          append-only
  kind=bcnt   (band, key, n)                       rewritten (pruned)
  kind=label  (doc_id, label)                      rewritten (pruned)

Scale: per epoch, the per-doc work (Gopher, tokenize, minhash, bands)
is narrow and batch-sized; the candidate join is batch-bands x
band-bucket (capped, never all-pairs); the closure folds node->label
edges (one row per clustered doc) plus batch-sized new edges. The
two REWRITTEN kinds (bcnt, label) cost O(state) per epoch — and that
is the pipeline's INHERENT per-epoch bound, not a storage-format
artifact: the incremental closure fold consumes every carried label
and the under-cap filter consumes every bucket count each epoch, so
a delta/merge-on-read layout would move the same O(state) cost from
the write to the read side (measured on the epoch axis by
tools/scale_probe.py::_funnel_epoch_axis_probe — per-epoch write
wall grows linearly with state, matching the fold, never faster).
State is the curated corpus itself — exactly what a curation
pipeline must store anyway.

Flush: survivors = quality docs not dropped by their cluster label;
temperature mixture + token-budget fill run once over the stored
narrow per-doc frame (token counts were computed at ingest — no
re-tokenization; operators/corpus.py::token_budget_fill_per_doc),
then the same per-source funnel rollup as the batch gate
(operators/corpus.py::funnel_rollup).

Driver gate: stream_curation_funnel (queries/streaming_gate.py)
replays the documents table as three md5-interleaved files — every
micro-batch holds docs from across the id space, so cross-batch
near-dup pairs and cross-batch cluster MERGES (a later doc bridging
two earlier clusters, retroactively dropping one keeper) happen for
real — against the UNCHANGED corpus_curation_pipeline oracle:
delivery changed, the answer may not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hha_spark.functions.local import sql_over_views
from hha_spark.streaming.sessionize import (
    _prune_store_versions,
    _read_versioned,
    read_kind_history,
)

_CUR_STORE_SCHEMA = (
    "doc_id long, doc_id_b long, source string, n_tokens long, "
    "tokens array<string>, band int, key string, n long, label long, "
    "kind string"
)
_DOC_SCHEMA = (
    "doc_id long, source string, n_tokens long, tokens array<string>"
)
_BAND_SCHEMA = "doc_id long, band int, key string"
_EDGE_SCHEMA = "doc_id long, doc_id_b long, band int, key string"
_RAW_SCHEMA = "source string, n long"

_K_DOC = "doc"
_K_BAND = "band"
_K_EDGE = "edge"
_K_BCNT = "bcnt"
_K_LABEL = "label"
_K_RAW = "raw"

_WIDE_TYPES = {
    "doc_id": "long",
    "doc_id_b": "long",
    "source": "string",
    "n_tokens": "long",
    "tokens": "array<string>",
    "band": "int",
    "key": "string",
    "n": "long",
    "label": "long",
}


# --- fused per-epoch SQL (round 12) ---------------------------------
# The processor used to build each epoch's plan as ~80 chained
# DataFrame constructions (the r11 cProfile: ~1.2k py4j round-trips
# per epoch, t_build ~0.5 s/epoch of pure driver-side latency). Each
# multi-frame chain below is now ONE spark.sql statement — a literal
# transcription of the former Column chain (guide §4.1: here the PLAN
# was crossing the Python/JVM boundary piecewise). Frames substitute
# via {name} kwargs; all run on the per-batch clone session.

# merged bucket counts in ONE exchange (carried counts weight n_prev,
# batch band rows weight 1) — the former two-selectExpr+union+agg chain
_BCNT_SQL = """
SELECT band, key,
       CAST(sum(IF(_is_prev = 1, _c, 0)) AS BIGINT) AS n_prev,
       CAST(sum(_c) AS BIGINT) AS n
FROM (
  SELECT band, key, CAST(n_prev AS BIGINT) AS _c, 1 AS _is_prev
  FROM {prev}
  UNION ALL
  SELECT band, key, CAST(1 AS BIGINT) AS _c, 0 AS _is_prev
  FROM {bands_new})
GROUP BY band, key
"""

# candidate generation (new-new / new-hist pair split, no distinct)
# + Jaccard verification — the former bn_ok/cand/toks_all/edges chain
_EDGES_SQL = """
WITH under AS (SELECT band, key FROM {bcnt} WHERE n <= :cap),
  bn_ok AS (
    SELECT b.doc_id, b.band, b.key FROM {bands_new} b
    LEFT SEMI JOIN under u ON b.band = u.band AND b.key = u.key),
  cand AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.band, a.key
    FROM bn_ok a JOIN {bands_new} b
      ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
    UNION ALL
    SELECT least(a.doc_id, h.doc_id) AS doc_id_a,
           greatest(a.doc_id, h.doc_id) AS doc_id_b, a.band, a.key
    FROM bn_ok a JOIN {bands_hist} h
      ON a.band = h.band AND a.key = h.key
    WHERE a.doc_id != h.doc_id),
  toks AS (
    SELECT doc_id, tokens FROM {docs_hist}
    UNION ALL
    SELECT doc_id, tokens FROM {qdocs})
SELECT c.doc_id_a AS doc_id, c.doc_id_b, c.band, c.key
FROM cand c
JOIN toks ta ON ta.doc_id = c.doc_id_a
JOIN toks tb ON tb.doc_id = c.doc_id_b
WHERE 17 * size(array_intersect(ta.tokens, tb.tokens))
      >= 7 * (size(ta.tokens) + size(tb.tokens))
"""

# the ONE tagged-union mega-probe (raw counts, cap-crossing count,
# envelope-capped new edges and carried labels) — the former
# four-branch selectExpr/union chain
_PROBE_SQL = """
SELECT 'raw' AS _k, CAST(NULL AS BIGINT) AS u, CAST(NULL AS BIGINT) AS v,
       source, CAST(count(1) AS BIGINT) AS n
FROM {batch} GROUP BY source
UNION ALL
SELECT 'crossed', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(count(1) AS BIGINT)
FROM {bcnt} WHERE n_prev >= 2 AND n_prev <= :cap AND n > :cap
UNION ALL
SELECT 'en', doc_id, doc_id_b, CAST(NULL AS STRING),
       CAST(NULL AS BIGINT)
FROM (SELECT doc_id, doc_id_b FROM {edges} LIMIT :lim)
UNION ALL
SELECT 'pl', doc_id, label, CAST(NULL AS STRING), CAST(NULL AS BIGINT)
FROM (SELECT doc_id, label FROM {labels} LIMIT :lim)
"""

# the unified kind-partitioned write frame: six typed-null-padded
# branches, each coalesced BEFORE the union so the write stays
# exchange-free and partitions stay pure-kind, one task per kind
# (plan-asserted in tests/test_curation_stream.py) — the former
# six-_wide chain
_UNIFIED_SQL = """
SELECT /*+ COALESCE(1) */ doc_id, CAST(NULL AS BIGINT) AS doc_id_b,
       source, n_tokens, tokens, CAST(NULL AS INT) AS band,
       CAST(NULL AS STRING) AS key, CAST(NULL AS BIGINT) AS n,
       CAST(NULL AS BIGINT) AS label, 'doc' AS kind
FROM {qdocs}
UNION ALL
SELECT /*+ COALESCE(1) */ doc_id, CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS BIGINT),
       CAST(NULL AS ARRAY<STRING>), band, key, CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), 'band'
FROM {bands_new}
UNION ALL
SELECT /*+ COALESCE(1) */ doc_id, doc_id_b, CAST(NULL AS STRING),
       CAST(NULL AS BIGINT), CAST(NULL AS ARRAY<STRING>), band, key,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'edge'
FROM {edges}
UNION ALL
SELECT /*+ COALESCE(1) */ CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS STRING),
       CAST(NULL AS BIGINT), CAST(NULL AS ARRAY<STRING>), band, key,
       n, CAST(NULL AS BIGINT), 'bcnt'
FROM {bcnt}
UNION ALL
SELECT /*+ COALESCE(1) */ node AS doc_id, CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS BIGINT),
       CAST(NULL AS ARRAY<STRING>), CAST(NULL AS INT),
       CAST(NULL AS STRING), CAST(NULL AS BIGINT), label, 'label'
FROM {labels}
UNION ALL
SELECT /*+ COALESCE(1) */ CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), source, CAST(NULL AS BIGINT),
       CAST(NULL AS ARRAY<STRING>), CAST(NULL AS INT),
       CAST(NULL AS STRING), n, CAST(NULL AS BIGINT), 'raw'
FROM {raw}
"""


# (The former per-branch `_wide` projection helper is inlined into
# _UNIFIED_SQL above — its typed-null padding appears there verbatim,
# in _WIDE_TYPES order.)


# Above this many label rows, the epoch's driver-computed labels are
# written to a scratch parquet under the store and read back as a
# normal scan instead of riding the plan as a LocalTableScan literal.
# The literal embeds the WHOLE label table into every referencing
# job's task binary — fine at gate scale, but label state is
# CUMULATIVE, so on a long stream each epoch's write job broadcasts
# an ever-growing task binary. Sizing is based on the SERIALIZED
# task-binary cost, not Arrow bytes: the 96-epoch scale-probe axis
# measured ~90 B per label row in the stage binary (~4 MB at ~45k
# rows, with a driver broadcast-build OOM at 8g after ~4000 such
# stages — the per-stage binaries are themselves TorrentBroadcasts
# and outlive the stage on the driver's BlockManager). 5k rows keeps
# every binary under ~450 KB (below Spark's 1000 KiB task-size
# warning) while gate-scale streams (hundreds to ~3k labels at
# sf0.1) stay on the cheaper literal path; past it the one-file
# round-trip caps task-binary size at O(1) regardless of stream age.
LABEL_SPILL_ROWS = 5_000

_LABEL_SPILL_SCHEMA = "node long, label long"


def _uf_labels(
    spark: SparkSession, pairs: list, *, spill_path: str | None = None,
    stats: dict | None = None, label_spill_rows: int | None = None,
) -> DataFrame:
    """Driver union-find over collected (u, v) long pairs — the same
    min-label kernel the closure operator's small path runs
    (operators/cluster.py::_min_label_table), fed directly from the
    epoch probe's Arrow columns so no second limit-probe job runs.

    With `spill_path`, a result over the spill threshold
    (`label_spill_rows`, default the module's LABEL_SPILL_ROWS — the
    constant resolves at CALL time so tests and gates can lower it)
    is serialized on the driver (pyarrow parquet buffer) and written
    through the store's own Hadoop FileSystem
    (sources/fs.py::write_bytes — local, HDFS, and object stores
    alike), then returned as a parquet scan: zero label bytes in any
    task binary, at the cost of one small file round-trip on the
    epochs that exceed the threshold."""
    import pyarrow as pa

    from pyspark.sql.types import LongType

    from hha_spark.operators.cluster import _min_label_table

    tbl = pa.table(
        {
            "u": pa.array([p[0] for p in pairs], pa.int64()),
            "v": pa.array([p[1] for p in pairs], pa.int64()),
        }
    )
    out = _min_label_table(tbl)
    threshold = (
        LABEL_SPILL_ROWS if label_spill_rows is None else label_spill_rows
    )
    if spill_path is None or out.num_rows <= threshold:
        from pyspark.sql.types import StructField, StructType

        return spark.createDataFrame(
            out,
            StructType(
                [
                    StructField("node", LongType()),
                    StructField("label", LongType()),
                ]
            ),
        )
    import pyarrow.parquet as pq

    from hha_spark.sources import fs

    buf = pa.BufferOutputStream()
    pq.write_table(out, buf)
    fs.write_bytes(
        spark, f"{spill_path}/part-0.parquet", buf.getvalue().to_pybytes()
    )
    if stats is not None:
        stats["label_spills"] = stats.get("label_spills", 0) + 1
    return spark.read.schema(_LABEL_SPILL_SCHEMA).parquet(spill_path)


def make_curation_funnel_processor(
    spark: SparkSession,
    *,
    store_root: str,
    max_bucket: int | None = None,
    stats: dict | None = None,
    compact_every: int | None = None,
    label_spill_rows: int | None = None,
):
    """Per-micro-batch body (see module docstring for the design and
    the bucket-cap reconciliation argument). TWO actions per epoch on
    the happy path: one tagged-union Arrow mega-probe (empty check +
    raw per-source counts + cap-crossing detection + envelope-capped
    new-edge/carried-label collection, materializing every persist
    the write re-reads) whose collected pairs feed the driver
    union-find directly, and ONE exchange-free kind-partitioned
    write. A cap-crossing epoch adds one bounded edge-history
    collect; an over-envelope graph falls back to the distributed
    closure kernel on identical frames. `stats`, if given,
    collects observability counters ('epochs', 'recomputes', per-phase
    wall timers) so tests can assert the reconciliation path actually
    fired.

    `compact_every=N` folds old history stubs every N epochs
    (streaming/store.py) — the long-lived-deployment knob that keeps
    the store at three version dirs instead of one per epoch. Running
    it inside the processor makes it single-writer safe: it executes
    between epochs on the stream's own thread and touches only
    versions strictly below the newest two, which no future epoch or
    retry reads differently (the store module's reader-equivalence
    argument).

    Heals any crashed store compaction first (streaming/store.py
    protocol contract: recovery must precede the first store read
    after a restart)."""
    from hha_spark.operators.cluster import (
        SMALL_GRAPH_EDGES,
        connected_components,
    )
    from hha_spark.operators.dedup import (
        MAX_LSH_BUCKET,
        band_keys,
        minhash_signatures,
        with_token_set,
    )
    from hha_spark.operators.text import gopher_repetition_rules
    from hha_spark.streaming.store import recover_compaction

    recover_compaction(spark, store_root)

    cap = MAX_LSH_BUCKET if max_bucket is None else max_bucket

    def _clock(key: str, t0: float) -> float:
        """Accumulate wall seconds per phase into `stats` (no-op when
        stats is None); returns a fresh t0 for the next phase."""
        import time

        t1 = time.monotonic()
        if stats is not None:
            stats[key] = stats.get(key, 0.0) + (t1 - t0)
        return t1

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        import time

        # cheap empty-batch short-circuit (one limit-1 job over the
        # micro-batch's own files) BEFORE any epoch plan is built: an
        # empty micro-batch (restart edge case) must not pay the full
        # mega-probe — gopher/minhash plans over prev state plus up
        # to probe_cap+1 prev_labels rows collected to the driver —
        # just to learn there is nothing to do. Store untouched, so
        # retry idempotence is unaffected.
        if batch_df.isEmpty():
            return

        epoch = int(epoch_id)
        t = time.monotonic()
        # per-batch clone session: the fused statements' frame
        # substitution registers temp views in each frame's OWN
        # session, so every frame this epoch builds must live on
        # batch_df's session (see streaming/sessionize.py)
        session = batch_df.sparkSession
        cur = _read_versioned(
            session, store_root, _CUR_STORE_SCHEMA, before_epoch=epoch
        )
        prev_labels = cur.where(F.col("kind") == _K_LABEL).select(
            "doc_id", "label"
        )
        prev_bcnt = cur.where(F.col("kind") == _K_BCNT).select(
            "band", "key", F.col("n").alias("n_prev")
        )
        docs_hist = read_kind_history(
            session,
            store_root,
            _K_DOC,
            _DOC_SCHEMA,
            ("doc_id", "source", "n_tokens", "tokens"),
            before_epoch=epoch,
        )
        bands_hist = read_kind_history(
            session,
            store_root,
            _K_BAND,
            _BAND_SCHEMA,
            ("doc_id", "band", "key"),
            before_epoch=epoch,
        )

        batch = batch_df.select("doc_id", "source", "text")
        # carry source/text through the (narrow, shuffle-free) gopher
        # map so no join back to the batch is needed; gopher's
        # n_tokens IS the exact token count the fill consumes
        # (size(split(text)) — not |token set|)
        qdocs = (
            with_token_set(
                gopher_repetition_rules(
                    batch, carry_cols=("source", "text")
                ).where("keep")
            )
            .select("doc_id", "source", "n_tokens", "tokens")
            .persist()
        )
        # persisted: the minhash kernel (8 salted md5s per token per
        # doc) feeds three consumers — bucket counts, the candidate
        # join, and the store write
        bands_new = band_keys(minhash_signatures(qdocs)).persist()
        # merged bucket counts in ONE exchange AND one fused statement
        # (_BCNT_SQL) — replaces the previous [groupBy new +
        # full_outer join prev] two-exchange shape (r11) and its
        # chained construction (r12)
        bcnt = sql_over_views(
            session,
            _BCNT_SQL,
            frames={"prev": prev_bcnt, "bands_new": bands_new},
        ).persist()
        # candidates split by pair provenance instead of the previous
        # [join against hist+new, least/greatest, distinct] shape:
        # a new-new pair surfaces exactly once through doc_id < other
        # and a new-hist pair exactly once because hist docs are never
        # on the left — so the distinct (a full exchange of the
        # candidate set, the widest frame in the epoch) is dropped.
        # Same pair set: the old shape produced new-new pairs twice
        # (both orderings -> same least/greatest row) and new-hist
        # once; hist-hist never (left side is bands_new in both).
        # Jaccard >= 0.7 via the intersection ONLY:
        # |A u B| = |A| + |B| - |A n B|, so
        # 10*ix >= 7*(sa + sb - ix)  <=>  17*ix >= 7*(sa + sb)
        # — exact integer arithmetic, one array op instead of two.
        # The whole under/cand/verify chain is ONE fused statement.
        edges_new = sql_over_views(
            session,
            _EDGES_SQL,
            frames={
                "bcnt": bcnt,
                "bands_new": bands_new,
                "bands_hist": bands_hist,
                "docs_hist": docs_hist,
                "qdocs": qdocs,
            },
            args={"cap": cap},
        ).persist()
        # the under-cap bucket set, needed again only on the rare
        # cap-crossing recompute paths below
        under = bcnt.where(F.col("n") <= cap).select("band", "key")
        try:
            # ONE tagged-union Arrow probe per epoch answers FIVE
            # questions: is the batch empty, the raw per-source
            # ingest counts (kind=raw), did any bucket CROSS the cap,
            # the verified new edges, and the carried labels-as-edges
            # — the last two envelope-capped so the driver can run
            # the same union-find kernel the closure operator uses
            # without a second probe action (each separate action
            # costs a full job round-trip; this fold measured ~35%
            # of the per-epoch wall at gate scale). The probe
            # materializes the qdocs/bands/bcnt/edges persists that
            # the store write re-reads. Collecting per-source raw
            # rows is scale-safe: source is the rollup dimension, so
            # its cardinality already bounds the final result set.
            # n_prev >= 2 is what makes a crossing REAL: a bucket
            # born over the cap this epoch never generated an edge
            # (generation filters on the merged counts), so nothing
            # needs revoking.
            #
            # Envelope: en/pl sides are LIMIT-capped at
            # SMALL_GRAPH_EDGES + 1; a side hitting its cap falls
            # back to the distributed closure operator on the exact
            # frames (the collected rows are discarded — the bounded
            # price of the probe, same contract as the closure
            # kernel's own limit probe). The union-find inputs are
            # identical to the fallback frames: incremental fold =
            # (prev labels as edges) + new edges; recompute = the
            # under-filtered edge history + new edges (new edges are
            # generated only for under-cap buckets of the SAME merged
            # counts, so re-filtering them is a no-op).
            probe_cap = SMALL_GRAPH_EDGES
            # the four tagged branches as ONE fused statement
            # (_PROBE_SQL) — one analysis pass instead of ~12
            probe_df = sql_over_views(
                session,
                _PROBE_SQL,
                frames={
                    "batch": batch,
                    "bcnt": bcnt,
                    "edges": edges_new,
                    "labels": prev_labels,
                },
                args={"cap": cap, "lim": probe_cap + 1},
            )
            # split the probe timer at the action boundary: t_build is
            # the driver-side cost (py4j plan construction of the
            # whole epoch body, dominated by expression-tree chatter),
            # t_cross_probe the JVM analyze+execute of the one action
            t = _clock("t_build", t)
            tbl = probe_df.toArrow()
            ks = tbl.column("_k").to_pylist()
            ns = tbl.column("n").to_pylist()
            raw_local = [
                {"source": s, "n": n}
                for k, s, n in zip(
                    ks, tbl.column("source").to_pylist(), ns
                )
                if k == "raw"
            ]
            crossed = sum(n for k, n in zip(ks, ns) if k == "crossed")
            if not raw_local:
                return  # empty batch: store untouched (finally unpersists)
            us = tbl.column("u").to_pylist()
            vs = tbl.column("v").to_pylist()
            en_pairs = [(u, v) for k, u, v in zip(ks, us, vs) if k == "en"]
            pl_pairs = [(u, v) for k, u, v in zip(ks, us, vs) if k == "pl"]
            t = _clock("t_cross_probe", t)
            labels = None
            if len(en_pairs) <= probe_cap and (
                crossed > 0 or len(pl_pairs) <= probe_cap
            ):
                if crossed > 0:
                    # reconciliation: labels from scratch over the
                    # edge history filtered to still-under-cap
                    # provenance (over-cap is monotone, so this
                    # equals filtering by the final cap as of this
                    # prefix) — one extra bounded collect, only on
                    # the rare crossing epochs
                    eh_tbl = (
                        read_kind_history(
                            session,
                            store_root,
                            _K_EDGE,
                            _EDGE_SCHEMA,
                            ("doc_id", "doc_id_b", "band", "key"),
                            before_epoch=epoch,
                        )
                        .join(under, ["band", "key"], "left_semi")
                        .select(
                            F.col("doc_id").alias("u"),
                            F.col("doc_id_b").alias("v"),
                        )
                        .limit(probe_cap + 1)
                        .toArrow()
                    )
                    if eh_tbl.num_rows <= probe_cap:
                        labels = _uf_labels(
                            session,
                            list(
                                zip(
                                    eh_tbl.column("u").to_pylist(),
                                    eh_tbl.column("v").to_pylist(),
                                )
                            )
                            + en_pairs,
                            spill_path=f"{store_root}/spill/e{epoch}",
                            stats=stats,
                            label_spill_rows=label_spill_rows,
                        )
                else:
                    labels = _uf_labels(
                        session,
                        pl_pairs + en_pairs,
                        spill_path=f"{store_root}/spill/e{epoch}",
                        stats=stats,
                        label_spill_rows=label_spill_rows,
                    )
            if labels is None:
                # over-envelope fallback: the distributed closure on
                # the exact same logical inputs
                if stats is not None:
                    stats["closure_fallbacks"] = (
                        stats.get("closure_fallbacks", 0) + 1
                    )
                if crossed > 0:
                    edge_hist = read_kind_history(
                        session,
                        store_root,
                        _K_EDGE,
                        _EDGE_SCHEMA,
                        ("doc_id", "doc_id_b", "band", "key"),
                        before_epoch=epoch,
                    )
                    label_in = (
                        edge_hist.unionByName(edges_new)
                        .join(under, ["band", "key"], "left_semi")
                        .select(
                            F.col("doc_id").alias("_u"),
                            F.col("doc_id_b").alias("_v"),
                        )
                    )
                else:
                    label_in = prev_labels.select(
                        F.col("doc_id").alias("_u"),
                        F.col("label").alias("_v"),
                    ).unionByName(
                        edges_new.select(
                            F.col("doc_id").alias("_u"),
                            F.col("doc_id_b").alias("_v"),
                        )
                    )
                labels = connected_components(label_in, src="_u", dst="_v")
            t = _clock("t_closure", t)
            import pyarrow as pa

            raw_rows = session.createDataFrame(
                pa.table(
                    {
                        "source": pa.array(
                            [r["source"] for r in raw_local], pa.string()
                        ),
                        "n": pa.array(
                            [r["n"] for r in raw_local], pa.int64()
                        ),
                    }
                ),
                "source string, n long",
            )
            # Each kind's branch is coalesced BEFORE the union, so the
            # write job is exchange-free: every input is either an
            # already-persisted frame (qdocs/bands/edges/bcnt — one
            # narrow task re-reads the cache) or driver-local
            # (labels), and the union's partitions stay pure-kind, so
            # partitionBy("kind") emits one file per kind with no
            # repartition shuffle (the previous shape; its exchange
            # was ~25% of the write job at gate scale).
            unified = sql_over_views(
                session,
                _UNIFIED_SQL,
                frames={
                    "qdocs": qdocs,
                    "bands_new": bands_new,
                    "edges": edges_new,
                    "bcnt": bcnt,
                    "labels": labels,
                    "raw": raw_rows,
                },
            )
            # non-empty by construction: kind=raw has >= 1 row for any
            # non-empty batch. static overwrite pinned for retry
            # idempotence (see sessionize.make_sessionize_processor).
            unified.write.option(
                "partitionOverwriteMode", "static"
            ).partitionBy("kind").mode("overwrite").parquet(
                f"{store_root}/v{epoch}"
            )
            t = _clock("t_write", t)
            _prune_store_versions(
                session,
                store_root,
                current_epoch=epoch,
                prune_kinds=(_K_BCNT, _K_LABEL),
            )
            # the epoch's label spill (if any) was consumed by the
            # write action above; the store's kind=label partition is
            # now the durable copy, so the scratch dir goes. A crash
            # before this delete just leaves a dir the next epoch's
            # spill overwrites — readers never see it (_state_versions
            # matches only v<digits> dirs).
            from hha_spark.sources import fs as _fs

            _fs.delete(session, f"{store_root}/spill")
            t = _clock("t_prune", t)
            if compact_every and (epoch + 1) % compact_every == 0:
                from hha_spark.streaming.store import (
                    CURATION_HISTORY,
                    compact_store,
                )

                folded = compact_store(
                    session, store_root, history_kinds=CURATION_HISTORY
                )["folded"]
                if stats is not None and folded:
                    stats["compactions"] = stats.get("compactions", 0) + 1
                t = _clock("t_compact", t)
            if stats is not None:
                stats["epochs"] = stats.get("epochs", 0) + 1
                if crossed > 0:
                    stats["recomputes"] = stats.get("recomputes", 0) + 1
        finally:
            for f in (qdocs, bands_new, bcnt, edges_new):
                f.unpersist()

    return process


def final_curation_funnel(
    spark: SparkSession,
    *,
    store_root: str,
    budget_frac_pct: int | None = None,
    salt: str | None = None,
) -> DataFrame:
    """End-of-stream readout: survivors (quality docs whose cluster
    label is themselves, or unclustered) -> temperature mixture +
    token-budget fill over the stored narrow per-doc frame -> the
    shared per-source funnel rollup. Equals the batch
    curation_funnel frame exactly (see module docstring)."""
    from hha_spark.operators.corpus import (
        DEFAULT_BUDGET_PCT,
        DEFAULT_FILL_SALT,
        funnel_rollup,
        token_budget_fill_per_doc,
    )

    # defaults come from the ONE canonical definition the batch
    # funnel also uses — stream==batch must not depend on two
    # literals staying in sync
    if budget_frac_pct is None:
        budget_frac_pct = DEFAULT_BUDGET_PCT
    if salt is None:
        salt = DEFAULT_FILL_SALT
    cur = _read_versioned(spark, store_root, _CUR_STORE_SCHEMA)
    labels = cur.where(F.col("kind") == _K_LABEL).select("doc_id", "label")
    feats = read_kind_history(
        spark,
        store_root,
        _K_DOC,
        _DOC_SCHEMA,
        ("doc_id", "source", "n_tokens", "tokens"),
    ).select("doc_id", "source", "n_tokens")
    drops = labels.where(F.col("doc_id") != F.col("label")).select("doc_id")
    unique = feats.join(drops, "doc_id", "left_anti")
    fill = token_budget_fill_per_doc(
        unique, budget_frac_pct=budget_frac_pct, salt=salt
    )
    raw_stats = (
        read_kind_history(
            spark, store_root, _K_RAW, _RAW_SCHEMA, ("source", "n")
        )
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_docs_raw"))
    )
    q_stats = feats.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_quality")
    )
    return funnel_rollup(raw_stats, q_stats, fill)
