"""Vector similarity search over embedding columns.

Brute-force cosine top-k is the correctness baseline; the LSH/IVF
bucketed variants (operators/dedup.py banding, sign-bit buckets) are
the scale path. The dot product is computed EXACTLY:

    per-element product in double (bit-identical across engines)
      -> floor-quantized to integer 1e-12 units (order-independent
         BIGINT sum)
      -> one double division / sqrt at the end (correctly rounded).

This sidesteps float-summation order entirely — a requirement both
for the DuckDB oracle gate and for run-to-run stability once partial
aggregation reorders partitions on a real cluster.

Physical strategy: the per-pair arithmetic is a NARROW map —
`zip_with` multiplies the two arrays element-wise and `aggregate`
folds the quantized terms, entirely inside whole-stage codegen. No
element explode, no (pair, idx) join, no per-pair aggregation
shuffle: the only wide operations left in a similarity pipeline are
the joins that attach the two vectors to each candidate pair (equi-
joins on the vector id; broadcast when a side is small). Cost per
pair is O(dim) multiply-adds on in-row arrays — the same arithmetic
a columnar kernel would do, without moving |pairs|×dim rows through
a shuffle first.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Element products are floor-quantized to integer 1e-12 units and
# summed as BIGINT: float32 elements are promoted to double BEFORE
# multiplying (float*float loses ~1e-8), and FLOOR sidesteps the
# engines' differing double->decimal rounding modes entirely. The
# 1e12 scale cancels in the cosine (numerator 1e12 vs
# sqrt(1e12)*sqrt(1e12)); sums stay far below 2^53 so the final
# BIGINT->DOUBLE cast is exact and the sqrt/division chain is
# correctly rounded — bit-identical across engines and partition
# orders, at the cost of a deterministic <=1e-12/element truncation.
_Q = 1_000_000_000_000


def _fold_long(terms):
    """Sum an array<bigint> column; BIGINT addition is associative, so
    the in-row fold equals any shuffle-order SUM of the same terms."""
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)


def dot_scaled(a, b):
    """Quantized dot product of two array columns, in 1e-12 units:
    Σ floor(a_i·b_i·1e12) as a DOUBLE-cast BIGINT. Narrow."""
    terms = F.zip_with(
        a, b,
        lambda x, y: F.floor(
            x.cast("double") * y.cast("double") * F.lit(_Q)
        ).cast("long"),
    )
    return _fold_long(terms).cast("double")


def norm_sq_scaled(v):
    """Quantized squared norm of an array column (1e-12 units). The
    scale cancels against the scaled dot inside the cosine."""
    return dot_scaled(v, v)


def cosine_pairs(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """All (query, candidate) cosine similarities.

    Returns (qid, cid, cosine DOUBLE [, passthrough...]), where
    `passthrough` names candidate-side columns copied onto every
    output row. Both inputs should already be blocked/bounded — this
    is the exact kernel, not the pruner.

    The (small) query side is broadcast, so the cross product never
    shuffles: each candidate partition streams against the in-memory
    query vectors and the whole cosine is computed in one narrow
    projection (BroadcastNestedLoopJoin + codegen fold).
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("__qv")
    )
    c = candidates.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("__cv"),
        *passthrough,
    )
    return (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            "qid",
            "cid",
            (
                dot_scaled(F.col("__qv"), F.col("__cv"))
                # nullif: zero vectors yield NULL cosine, never an
                # ANSI division-by-zero (driver sessions run ANSI ON)
                / F.nullif(
                    F.sqrt(norm_sq_scaled(F.col("__qv")))
                    * F.sqrt(norm_sq_scaled(F.col("__cv"))),
                    F.lit(0.0),
                )
            ).alias("cosine"),
            *passthrough,
        )
    )


def cosine_pairs_for(
    pairs: DataFrame,
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    a_col: str = "vec_id_a",
    b_col: str = "vec_id_b",
) -> DataFrame:
    """Cosine similarity for an explicit candidate-pair set.

    `pairs` is (a_col, b_col [, extra cols]); the cost tracks the
    candidate count — the shape every blocked/LSH/IVF near-dup
    pipeline needs at scale. Returns pairs + cosine.

    Two equi-joins attach the two vectors to each pair (the only wide
    ops; broadcast/shuffled-hash per AQE's choice), then the cosine is
    one narrow projection per pair.
    """
    va = vectors.select(F.col(id_col).alias(a_col), F.col(vec_col).alias("__va"))
    vb = vectors.select(F.col(id_col).alias(b_col), F.col(vec_col).alias("__vb"))
    return (
        pairs.join(va, on=a_col)
        .join(vb, on=b_col)
        .withColumn(
            "cosine",
            dot_scaled(F.col("__va"), F.col("__vb"))
            / F.nullif(
                F.sqrt(norm_sq_scaled(F.col("__va")))
                * F.sqrt(norm_sq_scaled(F.col("__vb"))),
                F.lit(0.0),
            ),
        )
        .drop("__va", "__vb")
    )


HYPERPLANE_BITS = 16
BITS_PER_BAND = 4
MAX_HYPERPLANE_BUCKET = 64


def hyperplane_planes(spark, *, bits: int = HYPERPLANE_BITS, dim: int = 64) -> DataFrame:
    """Deterministic pseudo-random hyperplanes: (j, i, s) with
    s = ±1 from the md5 high bit of 'h{j}|{i}'. No RNG state — the
    same matrix materializes in any engine, which is what lets the
    DuckDB oracle reproduce the signatures bit-for-bit."""
    high = "('8','9','a','b','c','d','e','f')"
    return (
        spark.range(bits).selectExpr("id AS j")
        .crossJoin(spark.range(dim).selectExpr("id AS i"))
        .selectExpr(
            "j", "i",
            f"CASE WHEN substr(md5(concat('h', j, '|', i)), 1, 1) IN {high} "
            "THEN 1 ELSE -1 END AS s",
        )
    )


def hyperplane_bands(
    emb: DataFrame,
    planes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_band: int = BITS_PER_BAND,
) -> DataFrame:
    """(vec_id, band, band_val): random-hyperplane (SRP) signature
    bits, banded for LSH. Bit j is the sign of Σ_i s_ji·v_i, computed
    over floor-quantized integers so partial-sum order can't flip a
    boundary sign.

    The sign matrix is bits×dim values — collected driver-side (it is
    deterministic and tiny) and closed over by an Arrow-batched
    pandas_udf that computes every signature bit with EXACT integer
    arithmetic: bit j = sign of Σ_i floor(v_i·Q)·s_ji, an int64
    matmul whose additions are associative, so the values match the
    oracle's exploded GROUP BY formulation bit-for-bit (the float64
    element ops — widen, multiply, floor — are IEEE-identical to the
    JVM's). The plan stays one NARROW projection per vector followed
    by a band posexplode: no element join, no shuffle (pinned by
    test_srp_signatures_are_shuffle_free). Expression twins (an
    unrolled per-bit projection and a transform/aggregate loop) were
    measured first: the unrolled form blows past the codegen size
    threshold and the loop form is evaluated interpreted — the numpy
    batch kernel beats both by ~5× at sf0.1."""
    srows = planes.collect()
    smat: dict[int, dict[int, int]] = {}
    for r in srows:
        smat.setdefault(r["j"], {})[r["i"]] = r["s"]
    S = np.array(
        [[smat[j][i] for i in sorted(smat[j])] for j in sorted(smat)],
        dtype=np.int64,
    )  # bits × dim
    n_bits = S.shape[0]
    n_bands = (n_bits + bits_per_band - 1) // bits_per_band
    shifts = np.array(
        [1 << (j % bits_per_band) for j in range(n_bits)], dtype=np.int64
    )
    band_of = np.array([j // bits_per_band for j in range(n_bits)])

    @pandas_udf("array<bigint>")
    def _band_vals(batch: pd.Series) -> pd.Series:
        vals = batch.tolist()
        live = [i for i, x in enumerate(vals) if x is not None]
        res: list = [None] * len(vals)  # NULL vector -> NULL bands,
        # dropped by the downstream posexplode like the old NULL-
        # propagating expression form
        if live:
            v = np.array([vals[i] for i in live], dtype=np.float64)
            qv = np.floor(v * _Q).astype(np.int64)                # exact
            bits = (qv @ S.T > 0).astype(np.int64) * shifts       # n × bits
            out = np.zeros((len(v), n_bands), dtype=np.int64)
            for b in range(n_bands):
                out[:, b] = bits[:, band_of == b].sum(axis=1)
            for row, i in enumerate(live):
                res[i] = out[row]
        return pd.Series(res, dtype=object)

    return emb.select(
        F.col(id_col),
        F.posexplode(_band_vals(F.col(vec_col))).alias("band", "band_val"),
    ).select(
        id_col, F.col("band").cast("long").alias("band"), "band_val"
    )


def hyperplane_candidate_pairs(
    bands: DataFrame,
    *,
    id_col: str = "vec_id",
    max_bucket: int = MAX_HYPERPLANE_BUCKET,
) -> DataFrame:
    """LSH banding over SRP signatures: vectors sharing any
    (band, band_val) bucket become candidates; degenerate buckets
    above max_bucket are skipped (same rationale as dedup.MAX_LSH_BUCKET).
    Returns distinct (vec_id_a < vec_id_b) pairs.

    Single-shuffle shape (same restructure as dedup.lsh_candidate_pairs):
    bucket members gather BOUNDED via operators/buckets.py — the
    aggregation buffer itself never exceeds max_bucket + 1 ids, so a
    degenerate bucket spills sort I/O rather than materializing its
    full membership — and pairs generate in-row via a nested
    transform, replacing the count+semi-join+self-join plan's three
    exchanges of the banded frame with one."""
    from hha_spark.operators.buckets import capped_bucket_gather

    buckets = capped_bucket_gather(
        bands, keys=("band", "band_val"), order_col=id_col,
        payload=id_col, cap=max_bucket,
    )
    pair_gen = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), y -> "
        "struct(least(x, y) AS a, greatest(x, y) AS b))))"
    )
    return (
        buckets.where(F.size("ids") <= F.lit(max_bucket))
        .select(F.explode(pair_gen).alias("p"))
        .select(F.col("p.a").alias("vec_id_a"), F.col("p.b").alias("vec_id_b"))
        .distinct()
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Brute-force top-k neighbors per query by cosine similarity.

    Deterministic ranking: ties broken by candidate id. Output
    (qid, cid, cosine, rank). The pair kernel is the Arrow batch
    form (cosine_pairs_arrow — bit-identical to the expression twin,
    pinned by test_similarity.py) since top-k's bounded query side is
    exactly the shape it wants.

    EAGER-COLLECT CONTRACT (inherited from cosine_pairs_arrow):
    constructing this DataFrame runs a distributed job collecting the
    query side to the driver — plan building is not free. Query sides
    above MAX_ARROW_QUERIES automatically fall back to the fully lazy
    expression kernel instead.
    """
    sims = cosine_pairs_arrow(
        queries, candidates, id_col=id_col, vec_col=vec_col
    )
    if not include_self:
        sims = sims.where(F.col("qid") != F.col("cid"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return sims.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def mutual_knn_graph(
    nodes: DataFrame,
    *,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual-kNN graph over a node set: edge (a, b) exists iff b is
    in a's top-k AND a is in b's top-k (by exact quantized cosine,
    ties broken by id). The mutual filter is the standard noise
    suppressor for similarity graphs feeding clustering / dedup
    (asymmetric hub edges drop out).

    Returns (vec_id_a, vec_id_b, cosine, rank_ab, rank_ba) with
    a < b, each undirected edge emitted once.

    Scale: the node set is a BOUNDED selection (a sampled slice, one
    IVF cell, or one LSH bucket family) — not the raw corpus. Over a
    corpus-sized graph the exact all-pairs kernel inside cosine_topk
    is replaced by LSH/IVF candidate generation
    (hyperplane_candidate_pairs / operators/ivf.py) feeding the SAME
    rank + mutual-join tail; the mutual step itself is one
    self-equi-join on the k-bounded top-k frame — cardinality
    <= k * |nodes| on each side, shuffled on the (qid, cid) key.
    """
    from hha_spark.caching import tracked_persist

    # consumed twice by the mutual self-join: persist the k-bounded
    # frame so the pair kernel runs once
    topk = tracked_persist(
        cosine_topk(nodes, nodes, k=k, id_col=id_col, vec_col=vec_col)
    )
    fwd = topk.select(
        F.col("qid").alias("vec_id_a"),
        F.col("cid").alias("vec_id_b"),
        "cosine",
        F.col("rank").alias("rank_ab"),
    ).where(F.col("vec_id_a") < F.col("vec_id_b"))
    rev = topk.select(
        F.col("cid").alias("vec_id_a"),
        F.col("qid").alias("vec_id_b"),
        F.col("rank").alias("rank_ba"),
    ).where(F.col("vec_id_a") < F.col("vec_id_b"))
    return fwd.join(rev, on=["vec_id_a", "vec_id_b"]).select(
        "vec_id_a", "vec_id_b", "cosine", "rank_ab", "rank_ba"
    )


MAX_ARROW_QUERIES = 65536  # collected query side must stay driver-sized


def cosine_pairs_arrow(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Arrow-batched twin of :func:`cosine_pairs` — same output, same
    bit-identical quantized arithmetic, ~10× less CPU.

    The expression form evaluates three interpreted HOF folds PER PAIR
    (dot + both norms: 3·dim lambda evals), so a q×n cross product
    costs 3·q·n·dim evals. This kernel collects the bounded query
    side once (like the SRP planes and the IVF codebook — MLlib's
    broadcast-model shape), precomputes both norm tables, and runs
    the per-element floor(a·b·Q) in numpy over Arrow batches: the
    plan is ONE narrow mapInPandas over the candidate side — no
    crossJoin node, no per-pair HOFs, no shuffle.

    Exactness: numpy float64 elementwise (a·b)·Q then floor matches
    the JVM expression order; int64 sums are associative; the final
    divide/sqrt chain is correctly-rounded IEEE in both. Zero-norm
    vectors yield NULL cosine (the nullif contract), emitted as
    proper nulls via an object-dtype column.

    EAGER-COLLECT CONTRACT: the query side is collected at
    DataFrame-CONSTRUCTION time (the closure must hold the matrix when
    mapInPandas pickles it), so building this plan triggers a
    distributed job — unlike every other operator in this package.
    Callers that only want a plan (explain/audit tooling) should use
    cosine_pairs. If the query side exceeds MAX_ARROW_QUERIES the
    function FALLS BACK to the bit-identical lazy expression kernel
    (cosine_pairs) rather than raising — oversized query sets lose the
    Arrow speedup, never the answer.

    `passthrough` names candidate-side columns copied onto every
    output row (saves a re-join against a big candidate table).
    Output: (qid, cid, cosine [, passthrough...]).
    """
    # limit cap+1: detects overflow without materializing an unbounded
    # query set on the driver
    qrows = queries.select(id_col, vec_col).limit(MAX_ARROW_QUERIES + 1).collect()
    if len(qrows) > MAX_ARROW_QUERIES:
        return cosine_pairs(
            queries, candidates, id_col=id_col, vec_col=vec_col,
            passthrough=passthrough,
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)  # m×dim
    qn = (
        np.floor((Qm * Qm) * _Q).astype(np.int64).sum(axis=1).astype(np.float64)
    )
    qsqrt = np.sqrt(qn)
    m = len(qids)

    cand_fields = {f.name: f for f in candidates.schema.fields}
    extra_ddl = "".join(
        f", {n} {cand_fields[n].dataType.simpleString()}" for n in passthrough
    )
    out_schema = f"qid bigint, cid bigint, cosine double{extra_ddl}"
    src = candidates.select(id_col, vec_col, *passthrough)

    def gen(batches):
        for pdf in batches:
            vals = pdf[vec_col].tolist()
            live = [i for i, x in enumerate(vals) if x is not None]
            if not live or m == 0:
                continue
            C = np.array([vals[i] for i in live], dtype=np.float64)  # n×dim
            cids = pdf[id_col].to_numpy()[live]
            cn = (
                np.floor((C * C) * _Q)
                .astype(np.int64)
                .sum(axis=1)
                .astype(np.float64)
            )
            csqrt = np.sqrt(cn)
            n = C.shape[0]
            cos = np.empty((n, m), dtype=np.float64)
            null_mask = np.zeros((n, m), dtype=bool)
            # chunk the query axis so the n×chunk×dim temporary stays
            # tens of MB regardless of m
            chunk = max(1, min(m, (4 << 20) // max(1, n)))
            for s in range(0, m, chunk):
                e = min(m, s + chunk)
                terms = np.floor(
                    (C[:, None, :] * Qm[None, s:e, :]) * _Q
                ).astype(np.int64)
                dots = terms.sum(axis=2).astype(np.float64)  # n×(e-s)
                denom = csqrt[:, None] * qsqrt[None, s:e]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos[:, s:e] = dots / denom
                null_mask[:, s:e] = denom == 0.0
            out = pd.DataFrame(
                {
                    "qid": np.repeat(qids[None, :], n, axis=0).ravel(),
                    "cid": np.repeat(cids, m),
                    "cosine": cos.ravel(),
                }
            )
            if null_mask.any():
                c = out["cosine"].astype(object)
                c[null_mask.ravel()] = None
                out["cosine"] = c
            for name in passthrough:
                out[name] = np.repeat(pdf[name].to_numpy()[live], m)
            yield out

    return src.mapInPandas(gen, schema=out_schema)


def ndcg_weights(k: int) -> list[int]:
    """Discount table floor(1e6 / log2(r+1)) for r = 1..k, computed
    ONCE driver-side and embedded as integer literals in both
    engines' plans — no float log at query time, so the metric is
    exact integer arithmetic end-to-end."""
    import math

    return [math.floor(1_000_000 / math.log2(r + 1)) for r in range(1, k + 1)]


def ndcg_idcg(k: int) -> int:
    """Ideal DCG: the exact top-k in order carries grades k..1."""
    return sum(
        (k + 1 - r) * w
        for r, w in zip(range(1, k + 1), ndcg_weights(k))
    )


def ndcg_at_k(
    exact: DataFrame, approx: DataFrame, *, k: int
) -> DataFrame:
    """Per-query nDCG@k of an approximate ranking against the exact
    one, in integer micro-units: the standard graded retrieval-eval
    metric, complementing set-recall.

    Both inputs are (qid, cid, rank, ...) frames whose rank is 1-based
    within qid; `exact` defines relevance (grade = k+1-rank inside its
    top-k, 0 outside), `approx` is scored. ndcg_micro =
    dcg_q * 1e6 DIV IDCG where IDCG is the constant ideal sum — a
    query whose approx top-k IS the exact top-k scores exactly
    1_000_000. Shuffle shape: one (qid, cid) equi-join of two
    k-bounded rankings and one per-query aggregate — cost tracks the
    rankings, never the corpus.
    """
    w = ndcg_weights(k)
    idcg = ndcg_idcg(k)
    rel = exact.where(F.col("rank") <= k).select(
        "qid", "cid", (F.lit(k + 1) - F.col("rank")).alias("rel")
    )
    w_arr = F.array(*[F.lit(x) for x in w])
    gains = (
        approx.where(F.col("rank") <= k)
        .select("qid", "cid", "rank")
        .join(rel, on=["qid", "cid"], how="left")
        .select(
            "qid",
            (
                F.coalesce(F.col("rel"), F.lit(0))
                * F.element_at(w_arr, F.col("rank").cast("int"))
            ).alias("gain"),
        )
    )
    return (
        gains.groupBy("qid")
        .agg(F.sum("gain").cast("long").alias("dcg_q"))
        .select(
            "qid", "dcg_q",
            F.expr(f"CAST(dcg_q * 1000000 DIV {idcg} AS BIGINT)")
            .alias("ndcg_micro"),
        )
    )
