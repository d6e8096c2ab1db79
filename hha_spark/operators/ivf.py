"""IVF (inverted-file) vector index with a trained k-means codebook.

The scale path for similarity search: instead of comparing a query
against every vector (brute force, O(N·dim) per query), vectors are
assigned to the nearest of k centroids ("cells") and a query probes
only its `nprobe` nearest cells — the candidate join is keyed on the
cell id, so the element join's size tracks cell occupancy, not corpus
size. At 100 TB the final assignment is a partition/bucket key for
the stored index.

Training is deterministic Lloyd's k-means, built entirely from the
exact quantized arithmetic of operators/similarity.py:

  * init: sign-bit cells of the first two components (the round-1
    stand-in quantizer — now only the seed);
  * centroid component = (SUM(floor(v·1e12) as bigint) / n) / 1e12 —
    an order-independent exact mean, identical across engines;
  * assignment = argmin over cells of SUM(floor((v-c)²·1e12)), ties
    broken by cell id;
  * `iters` Lloyd rounds (default 2 — enough to demonstrate a real
    trained codebook while keeping the oracle SQL finite).

No randomness anywhere: same data -> same codebook in Spark and in
the DuckDB oracle, which unrolls the same iterations as CTEs.

Physical strategy (the part that matters at 100 TB): centroids are
k·dim values — driver-collected each round exactly like MLlib's
KMeans, then closed over by an Arrow-batched numpy kernel
(probe_cells_udf). Distance + argmin are a NARROW projection over
the vector column — no element explode, no (vec_id, cell) shuffle,
no row_number window. The only shuffle per Lloyd round is the
k·dim-group centroid aggregation, which is map-side combinable. For
codebooks too large to broadcast in a closure (k·dim in the
millions), the same quantized math applies against a broadcast-joined
centroid table instead.

Exactness contract: bigint sums are order-independent, double ops are
IEEE-identical between numpy and the JVM, and Python round-trips
collected doubles losslessly, so the kernel produces bit-identical
cells/distances to the exploded-join formulation the oracle uses.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hha_spark.caching import track

Q = 1_000_000_000_000  # picounit quantization, shared with similarity.py

_MEAN_NUM = (
    f"CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * {Q}) AS BIGINT)) AS BIGINT)"
)


def signbit_cell_col(vec_col: str = "embedding"):
    """Deterministic 4-cell seed quantizer: sign bits of components 0,1."""
    return (F.col(vec_col)[0] >= 0).cast("int") * 2 + (
        F.col(vec_col)[1] >= 0
    ).cast("int")


def _collect_centroids(
    emb: DataFrame, cell_col, *, vec_col: str = "embedding"
) -> dict[int, list[float]]:
    """{cell: [c_0..c_{dim-1}]} — exact quantized per-component means.

    One narrow posexplode + one map-side-combinable (cell, idx)
    aggregation; the result is k·dim values, collected driver-side
    the way MLlib's KMeans collects its codebook every round.
    """
    rows = (
        emb.select(cell_col.alias("cell"), F.posexplode(F.col(vec_col)).alias("idx", "v"))
        .groupBy("cell", "idx")
        .agg(F.expr(_MEAN_NUM).alias("_sq"), F.count(F.lit(1)).alias("_n"))
        .select(
            "cell",
            "idx",
            ((F.col("_sq").cast("double") / F.col("_n").cast("double")) / F.lit(float(Q))).alias("c"),
        )
        .collect()
    )
    cents: dict[int, dict[int, float]] = {}
    for r in rows:
        cents.setdefault(r["cell"], {})[r["idx"]] = r["c"]
    return {
        cell: [comps[i] for i in sorted(comps)] for cell, comps in cents.items()
    }


def probe_cells_udf(cents: dict[int, list[float]], nprobe: int):
    """Arrow-batched kernel: the `nprobe` nearest cells per vector,
    ordered by (quantized squared distance, cell id).

    Returns a pandas_udf usable as a narrow projection — element 1 of
    its array<bigint> result is the Lloyd assignment, the whole array
    the probe list. The arithmetic is the module's exact quantized
    contract: per-element float64 ops (widen, subtract, square,
    scale) are IEEE-identical to the JVM's, floor lands on an exact
    int64, and int64 sums are associative — so the result matches the
    DuckDB oracle's exploded GROUP BY formulation bit-for-bit, in any
    batch/partition order. Expression twins were tried first: a fully
    unrolled k×dim projection exceeds the codegen threshold and a
    literal-matrix HOF loop runs interpreted; the numpy batch kernel
    beats both ~5× at sf0.1 while keeping the plan shuffle-free.
    """
    ks = sorted(cents)
    cent_mat = np.array([cents[k] for k in ks], dtype=np.float64)  # k × dim
    ids = np.array(ks, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def _probe(batch: pd.Series) -> pd.Series:
        vals = batch.tolist()
        live = [i for i, x in enumerate(vals) if x is not None]
        out: list = [None] * len(vals)
        if live:
            v = np.array([vals[i] for i in live], dtype=np.float64)
            d = v[:, None, :] - cent_mat[None, :, :]               # n × k × dim
            dq = np.floor(d * d * Q).astype(np.int64).sum(axis=2)  # n × k
            # stable argsort over columns already in ascending
            # cell-id order == (dq, cell) tie-break
            order = np.argsort(dq, axis=1, kind="stable")
            cells = ids[order[:, :nprobe]]
            for row, i in enumerate(live):
                out[i] = cells[row]
        return pd.Series(out, dtype=object)

    return _probe


# NOTE (round 11): the former _CENT_MEMO — a module-level memo of
# trained codebooks keyed on (train_key, iters) that let later
# queries in one process skip the Lloyd rounds — is REMOVED. Bench
# and oracle runs must compute every query from the parquet inputs;
# a cross-query result memo makes whichever ann gate runs first pay
# training while the rest record fake-fast times. `train_key` is
# kept in signatures as the (now inert) trained-index identity so
# call sites remain stable; every call trains fresh.


def _assign_final(
    emb: DataFrame,
    cents: dict[int, list[float]],
    *,
    id_col: str,
    vec_col: str,
    probe_width: int,
) -> DataFrame:
    """Materialized (vec_id, vec, cells) frame for a known codebook."""
    assign = probe_cells_udf(cents, probe_width)
    cur = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col),
        assign(F.col(vec_col)).alias("cells"),
    ).persist()
    # eager: downstream broadcast subplans must read cached JVM rows,
    # never re-enter the Python kernel on a driver broadcast thread
    cur.count()
    return track(cur)


def _lloyd(
    emb: DataFrame,
    *,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_width: int = 1,
    train_key: str | None = None,
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Run `iters` Lloyd rounds from the sign-bit seed.

    Returns (assigned, cents): `assigned` is a PERSISTED, eagerly
    MATERIALIZED (vec_id, <vec_col>, cells) frame where `cells` is
    the `probe_width`-nearest cell list w.r.t. `cents`, the final
    collected codebook (element 1 = the argmin assignment).

    Each round materializes its assignment (persist, forced by the
    next round's centroid job — see the prev/unpersist dance below)
    before the next round consumes it. This bounds plan growth (an
    expression-nested variant measured 63 s on 2,000 vectors) and
    runs the Arrow kernel once per round.

    `train_key` names the trained-index identity for callers; it no
    longer keys a cross-query memo (see the module note above) —
    every call runs its own Lloyd rounds.
    """
    del train_key  # inert: cross-query result memo removed (r11)
    cur = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col)
    ).withColumn(
        "cells", F.array(signbit_cell_col(vec_col).cast("long"))
    ).persist()
    prev: DataFrame | None = None
    cents: dict[int, list[float]] = {}
    for i in range(iters):
        cents = _collect_centroids(
            cur, F.element_at("cells", 1), vec_col=vec_col
        )
        # the centroid job above materialized `cur`; only now is the
        # PREVIOUS round's cache safe to drop. Unpersisting cur before
        # its successor materializes would recompute every prior
        # round's kernel from emb — O(iters²) kernel work.
        if prev is not None:
            prev.unpersist()
            prev = None
        width = probe_width if i == iters - 1 else 1
        assign = probe_cells_udf(cents, width)
        nxt = cur.select(
            "vec_id", vec_col, assign(F.col(vec_col)).alias("cells")
        ).persist()
        if i == iters - 1:
            # eager on the FINAL round: downstream broadcast subplans
            # must read cached JVM rows, never re-enter the Python
            # kernel on a driver broadcast thread. The final frame
            # outlives this function (the returned query plan reads
            # it), so it is registered for session-scoped release.
            nxt.count()
            cur.unpersist()
            track(nxt)
        else:
            prev = cur
        cur = nxt
    return cur, cents


def ivf_topk(
    emb: DataFrame,
    *,
    query_pred,
    k: int = 5,
    nprobe: int = 2,
    iters: int = 2,
    train_key: str | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via the trained IVF index.

    query_pred: Column predicate selecting the query vectors.
    Each query probes its `nprobe` nearest cells; candidates are the
    vectors assigned (rank-1) to those cells. Output
    (qid, cid, cosine, rank) with deterministic tie-breaks.

    Shuffle census: iters tiny centroid aggs (training) + the
    cell-keyed candidate join + the exact-cosine kernel + the final
    per-query top-k window. Assignment and probe lists are narrow.
    """
    from hha_spark.operators.similarity import cosine_pairs_for

    # probe lists are computed once, inside _lloyd's materialized
    # final round — the joins below are pure JVM reads from cache
    assigned, cents = _lloyd(
        emb, iters=iters, probe_width=nprobe, train_key=train_key
    )
    assignment = assigned.select(
        F.col("vec_id").alias("vec_id_b"),
        F.element_at("cells", 1).alias("cell"),
    )
    probes = (
        assigned.where(query_pred)
        .select(
            F.col("vec_id").alias("vec_id_a"),
            F.explode(F.slice("cells", 1, nprobe)).alias("cell"),
        )
    )
    # the probe frame is |queries|·nprobe rows — broadcast it so the
    # assignment side never shuffles on the k-valued (skewed) cell key.
    # No distinct needed: a candidate lives in exactly ONE cell and a
    # query's probe cells are distinct, so a pair arises at most once.
    pairs = (
        F.broadcast(probes).join(assignment, on="cell")
        .where(F.col("vec_id_a") != F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b")
    )
    sims = cosine_pairs_for(pairs, emb)
    w = Window.partitionBy("vec_id_a").orderBy(F.desc("cosine"), F.asc("vec_id_b"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("vec_id_a").alias("qid"),
            F.col("vec_id_b").alias("cid"),
            "cosine",
            "rank",
        )
    )


def ivf_assign_new(
    corpus: DataFrame,
    batch: DataFrame,
    *,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_key: str | None = None,
) -> DataFrame:
    """Incremental IVF ingest: assign NEW vectors to the cells of a
    codebook trained on the existing corpus ONLY — no retraining, the
    serving-index admission shape (every production ANN index accepts
    writes between rebuilds; FAISS add() after train() is exactly
    this). The same batch-vs-corpus cross-side contract as
    dedup_incremental / strip_duplicate_spans_incremental, extended
    to the vector index: the corpus is read once to train + count
    occupancy, the batch never influences the codebook.

    Returns one row per batch vector: (vec_id, cell, n_corpus —
    in-cell occupancy before the ingest, n_new_in_cell — how many of
    this batch landed in the same cell). The occupancy columns are
    the rebalance signal: a cell absorbing disproportionate ingest is
    the cue to retrain or split before probe-time skew develops.

    Scale shape: training is the usual Lloyd loop (k·dim centroid
    collect per round); batch assignment is ONE narrow Arrow-kernel
    map over the batch — cost tracks the batch, not the corpus; the
    occupancy join is a broadcast of the k-row cell census.
    """
    assigned, cents = _lloyd(
        corpus, iters=iters, id_col=id_col, vec_col=vec_col,
        train_key=train_key,
    )
    occ = (
        assigned.select(F.element_at("cells", 1).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    )
    new_cells = _assign_final(
        batch, cents, id_col=id_col, vec_col=vec_col, probe_width=1
    ).select("vec_id", F.element_at("cells", 1).alias("cell"))
    w_cell = Window.partitionBy("cell")
    return (
        new_cells.join(F.broadcast(occ), on="cell", how="left")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(F.col("n_corpus"), F.lit(0))
            .cast("long")
            .alias("n_corpus"),
            F.count(F.lit(1)).over(w_cell).cast("long")
            .alias("n_new_in_cell"),
        )
    )
