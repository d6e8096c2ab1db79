"""Unit tests for vector-similarity operators."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from hha_spark.operators.similarity import (
    cosine_pairs,
    cosine_pairs_for,
    cosine_topk,
    norm_sq_scaled,
)

VECS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [1.0, 1.0, 0.0]),
    (4, [2.0, 0.0, 0.0]),   # colinear with 1
]


def vec_df(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_vector_norms(spark):
    """Exact quantized sum of squares, in 1e-12 units."""
    out = {
        r.vec_id: r.norm_sq / 1e12
        for r in vec_df(spark).select(
            "vec_id", norm_sq_scaled(F.col("embedding")).alias("norm_sq")
        ).collect()
    }
    assert out[1] == 1.0 and out[4] == 4.0
    assert abs(out[3] - 2.0) < 1e-9


def test_cosine_topk_ranks_colinear_first(spark):
    df = vec_df(spark)
    q = df.where(F.col("vec_id") == 1)
    out = cosine_topk(q, df, k=3).orderBy("rank").collect()
    assert [r.cid for r in out] == [4, 3, 2]
    assert abs(out[0].cosine - 1.0) < 1e-9          # colinear
    assert abs(out[1].cosine - 1 / math.sqrt(2)) < 1e-9
    assert abs(out[2].cosine - 0.0) < 1e-9          # orthogonal


def test_cosine_pairs_for_restricts_to_candidates(spark):
    df = vec_df(spark)
    pairs = spark.createDataFrame(
        [(1, 4), (2, 3)], "vec_id_a long, vec_id_b long"
    )
    out = {(r.vec_id_a, r.vec_id_b): r.cosine for r in
           cosine_pairs_for(pairs, df).collect()}
    assert set(out) == {(1, 4), (2, 3)}
    assert abs(out[(1, 4)] - 1.0) < 1e-9


# --- trained IVF -----------------------------------------------------------

CLUSTERED = [
    # tight cluster around (+1, +1): sign cell 3
    (1, [1.0, 1.0]), (2, [1.1, 0.9]), (3, [0.9, 1.1]),
    # tight cluster around (-1, -1): sign cell 0
    (4, [-1.0, -1.0]), (5, [-1.1, -0.9]), (6, [-0.9, -1.1]),
    # straddler: sign-bit seed misfiles it vs its nearest mean
    (7, [0.05, -0.02]),
]


def clustered_df(spark):
    return spark.createDataFrame(CLUSTERED, "vec_id long, embedding array<float>")


def test_ivf_training_is_deterministic_and_clusters(spark):
    from hha_spark.operators.ivf import _lloyd

    cells1, cent1 = _lloyd(clustered_df(spark), iters=2)
    cells2, _ = _lloyd(clustered_df(spark), iters=2)
    a1 = {r.vec_id: r.cells[0] for r in cells1.collect()}
    a2 = {r.vec_id: r.cells[0] for r in cells2.collect()}
    assert a1 == a2                       # same data -> same codebook
    assert a1[1] == a1[2] == a1[3]        # each cluster lands together
    assert a1[4] == a1[5] == a1[6]
    assert a1[1] != a1[4]
    # every assigned cell has a centroid, and centroids cover every dim
    assert set(a1.values()) <= set(cent1)
    assert {len(c) for c in cent1.values()} == {2}


def test_ivf_full_probe_matches_brute_force(spark):
    """With nprobe = number of live cells, IVF must equal brute force
    (the approximation comes only from probing fewer cells)."""
    from hha_spark.operators.ivf import ivf_topk

    df = clustered_df(spark)
    exact = {
        (r.qid, r.cid, r.rank)
        for r in cosine_topk(
            df.where(F.col("vec_id").isin(1, 4)), df, k=3
        ).collect()
    }
    approx = {
        (r.qid, r.cid, r.rank)
        for r in ivf_topk(
            df, query_pred=F.col("vec_id").isin(1, 4), k=3, nprobe=4, iters=2
        ).collect()
    }
    assert approx == exact


def test_hyperplane_lsh_catches_identical_vectors(spark):
    from hha_spark.operators.similarity import (
        hyperplane_bands,
        hyperplane_candidate_pairs,
        hyperplane_planes,
    )

    vecs = [
        (1, [0.5, -0.2, 0.8]),
        (2, [0.5, -0.2, 0.8]),     # identical -> same signature
        (3, [1.0, 0.2, -0.8]),     # scaled/flipped mix, likely elsewhere
        (4, [-0.5, 0.2, -0.8]),    # antipodal to 1 -> all bits flipped
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    planes = hyperplane_planes(spark, bits=16, dim=3)
    bands = hyperplane_bands(df, planes)
    sig = {}
    for r in bands.collect():
        sig.setdefault(r.vec_id, {})[r.band] = r.band_val
    assert sig[1] == sig[2]                       # identical vecs collide fully
    assert sig[1] != sig[4]                       # antipodal vecs differ
    cand = {
        (r.vec_id_a, r.vec_id_b)
        for r in hyperplane_candidate_pairs(bands).collect()
    }
    assert (1, 2) in cand


def test_kernels_tolerate_null_vectors(spark):
    """A NULL embedding must not poison the Arrow batch: the SRP
    signature kernel yields NULL bands (dropped by posexplode, like
    the old NULL-propagating expression form) and the IVF probe
    kernel yields a NULL probe list."""
    from hha_spark.operators.ivf import probe_cells_udf
    from hha_spark.operators.similarity import (
        hyperplane_bands,
        hyperplane_planes,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -0.2, 0.8]), (2, None), (3, [1.0, 0.2, -0.8])],
        "vec_id long, embedding array<float>",
    )
    bands = hyperplane_bands(df, hyperplane_planes(spark, bits=8, dim=3))
    got = {r.vec_id for r in bands.collect()}
    assert got == {1, 3}

    probe = probe_cells_udf({0: [0.0, 0.0, 0.0], 1: [1.0, 1.0, 1.0]}, 2)
    import pyspark.sql.functions as F
    rows = {r.vec_id: r.cells for r in df.select(
        "vec_id", probe(F.col("embedding")).alias("cells")).collect()}
    assert rows[2] is None
    assert rows[1] is not None and len(rows[1]) == 2


def test_arrow_pairs_bitwise_equal_expression_twin(spark):
    """cosine_pairs_arrow must reproduce the HOF-expression kernel
    EXACTLY (same quantized contract, same IEEE tail ops) — including
    NULL cosine for zero-norm vectors and passthrough columns."""
    from pyspark.sql import functions as F

    from hha_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_arrow,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).union(
        spark.createDataFrame(
            [(90001, [0.0] * 64, 7)],
            "vec_id long, embedding array<float>, label int",
        )
    )
    q = emb.where(F.col("vec_id") % 32 == 0)
    a = {(r.qid, r.cid): r.cosine for r in cosine_pairs(q, emb).collect()}
    b = {
        (r.qid, r.cid): (r.cosine, r.label)
        for r in cosine_pairs_arrow(q, emb, passthrough=("label",)).collect()
    }
    assert set(a) == set(b)
    assert all(a[k] == b[k][0] or (a[k] is None and b[k][0] is None)
               for k in a)
    # zero-norm candidate -> NULL cosine via the arrow path too
    assert all(b[(qid, 90001)][0] is None for qid, cid in b if cid == 90001)
    labels = {r.vec_id: r.label for r in emb.collect()}
    assert all(b[k][1] == labels[k[1]] for k in b)


def test_arrow_kernel_falls_back_above_query_cap(spark, monkeypatch):
    """Round-4 ADVICE: a query side above MAX_ARROW_QUERIES must fall
    back to the lazy expression kernel (identical rows incl.
    passthrough), not raise."""
    import hha_spark.operators.similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 8 == 0)
    n_q = q.count()
    arrow = sorted(
        (r.qid, r.cid, r.cosine, r.label)
        for r in sim.cosine_pairs_arrow(q, emb, passthrough=("label",))
        .collect()
    )
    monkeypatch.setattr(sim, "MAX_ARROW_QUERIES", n_q - 1)
    fb_df = sim.cosine_pairs_arrow(q, emb, passthrough=("label",))
    assert "mapInPandas" not in fb_df._jdf.queryExecution().analyzed().toString()
    fb = sorted(
        (r.qid, r.cid, r.cosine, r.label) for r in fb_df.collect()
    )
    assert fb == arrow and len(fb) > 0


def test_ndcg_perfect_agreement_is_one(spark):
    """approx == exact -> every query scores exactly 1_000_000."""
    from hha_spark.operators.similarity import ndcg_at_k

    ranking = spark.createDataFrame(
        [(q, q * 10 + r, r) for q in (1, 2) for r in (1, 2, 3)],
        "qid long, cid long, rank long",
    )
    out = {r.qid: r.ndcg_micro for r in ndcg_at_k(ranking, ranking, k=3).collect()}
    assert out == {1: 1_000_000, 2: 1_000_000}


def test_ndcg_hand_computed_partial_overlap(spark):
    """k=3, W = [1000000, 630929, 500000], IDCG = 3*W1+2*W2+1*W3.
    approx ranks the exact #2 first, exact #1 second, and a miss
    third: DCG = 2*W1 + 3*W2 + 0 = 2000000 + 1892787 = 3892787;
    IDCG = 3000000 + 1261858 + 500000 = 4761858;
    ndcg = 3892787 * 1e6 DIV 4761858 = 817493.
    """
    from hha_spark.operators.similarity import ndcg_at_k, ndcg_idcg

    exact = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 2), (1, 300, 3)],
        "qid long, cid long, rank long",
    )
    approx = spark.createDataFrame(
        [(1, 200, 1), (1, 100, 2), (1, 999, 3)],
        "qid long, cid long, rank long",
    )
    row = ndcg_at_k(exact, approx, k=3).collect()[0]
    assert ndcg_idcg(3) == 4_761_858
    assert row.dcg_q == 3_892_787
    assert row.ndcg_micro == 3_892_787 * 1_000_000 // 4_761_858


def test_ivf_assign_new_fixed_codebook_no_leak(spark):
    """Batch vectors are assigned to the cell a corpus-trained
    codebook puts them in: training the codebook WITH the batch
    included must be able to differ, but assigning the batch against
    the corpus-only codebook must equal assigning each batch vector
    individually (the codebook is fixed — order/set of the batch is
    irrelevant)."""
    from hha_spark.operators.ivf import ivf_assign_new
    from hha_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    is_batch = F.col("vec_id") % 8 == 3
    corpus, batch = emb.where(~is_batch), emb.where(is_batch)
    out = ivf_assign_new(corpus, batch, iters=2).toPandas()
    n_batch = batch.count()
    assert len(out) == n_batch
    # occupancy is corpus-only: totals never include the batch
    assert out["n_new_in_cell"].groupby(out["cell"]).first().sum() == n_batch
    total_corpus = out.drop_duplicates("cell")["n_corpus"].sum()
    assert total_corpus <= corpus.count()
    # a singleton batch gets the identical cell (fixed codebook)
    one_id = int(out["vec_id"].iloc[0])
    solo = ivf_assign_new(
        corpus, batch.where(F.col("vec_id") == one_id), iters=2
    ).toPandas()
    assert int(solo["cell"].iloc[0]) == int(
        out[out["vec_id"] == one_id]["cell"].iloc[0]
    )
