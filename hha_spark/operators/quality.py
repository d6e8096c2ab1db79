"""Trained model-based quality filtering: distributed logistic
regression in exact fixed-point arithmetic.

`operators/sketch.py::classifier_scores` established the SERVING shape
(hashed bag-of-words, narrow map + one combinable aggregate) with
md5-derived stand-in weights. This module supplies the missing half —
TRAINING — with the same discipline the BPE trainer
(`operators/text.py::bpe_train_merges`) proved for iterative
algorithms under the oracle gate:

    unrolled gradient steps, each reducing the feature frame to B+3
    exact integers (row count, max feature mass, B+1 gradient sums);
    the model is a bounded driver-side artifact (B+1 exact integers)
    updated between steps.

The pipeline is the fastText / DCLM quality-classifier shape: labels
come from a cheap SEED HEURISTIC (here the doc-length quality proxy),
features are hashed bag-of-words bucket counts, and training distills
the heuristic into a linear model that serves as a narrow map.

Exactness (the cross-engine oracle-gate contract):
- weights, logits, gradients are BIGINT micro-units end-to-end;
- the sigmoid is the piecewise-linear "hard sigmoid"
  clamp(1/2 + z/4, 0, 1) — in micro-units
  GREATEST(0, LEAST(1e6, 5e5 + z div 4)) — so every step is integer
  arithmetic, no transcendentals to disagree on;
- every integer division routes through sign(x)·(|x| div d): Spark's
  `div` truncates toward zero while floor-division semantics differ
  across engines on negatives, but on non-negative operands all
  engines agree;
- gradient SUMs are CAST AS BIGINT on the DuckDB side (HUGEINT trap,
  round-4 lesson). Magnitudes: |e| <= 1e6, x_j <= tokens per doc, so
  a BIGINT holds the sum up to ~9e12 docs; a 100 TB deployment would
  cast the accumulator to DECIMAL(38,0) like operators/dq.py does.

Scale: the feature frame is one explode + one combinable conditional
aggregate per doc (persisted by the caller). Training takes one of two
paths, chosen by one bounded Arrow collect of (ym, x0..x{B-1}, xb)
capped at QC_DRIVER_MAX_ROWS + 1 rows:
- driver path (at most QC_DRIVER_MAX_ROWS rows come back, none null):
  the rows ARE the sufficient statistics, so every step runs on the
  driver in numpy int64 — z = X @ w, the truncating z div 4, the
  hard-sigmoid clamp, g = X^T e. One bounded collect instead of one
  aggregate + collect per step, and no logit Column rebuilt per step.
  The cap bounds driver memory: (B+2) int64 per row is ~80 MB at the
  default 1M rows, held once as Arrow and once as numpy.
- distributed path (more rows, or a null feature): each step is one
  combinable aggregate producing B+3 numbers and a 1-row collect; the
  driver holds only the weight vector, and nothing grows with corpus
  size except the aggregates Spark already does tree-style.
Both paths return the same weights bit for bit. The logit and the
gradient sums are 64-bit two's-complement arithmetic on both sides:
numpy int64 wraps on overflow, and so does Spark's BIGINT in the
engine's non-ANSI session (session.py). Sums modulo 2^64 do not depend
on the order rows are added in, so partitioning cannot change them.
The step update, its Python-int division and the 2^53 logit guard are
one shared loop. (Under ANSI, Spark raises where numpy would wrap;
neither happens while |g| <= 1e6 * total tokens stays under 2^63,
the ~9e12 bound above.)

Reference parity note: the reference engine (hha.py) has no trainer —
this is part of the LLM-data-pipeline surface the rebuild adds on top
(SURVEY.md §2 "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from hha_spark.operators.sketch import md5_mod, md5_mod_sql

QC_BUCKETS = 8  # hashed bag-of-words feature dimensionality
QC_BIAS_X = 16  # bias feature magnitude (~avg bucket count — without
# it the intercept learns ~8x slower than the count features and the
# model degenerates to keep-everything at these step counts; measured)
QC_STEPS = 6  # unrolled gradient steps (train acc 0.99 at sf0.01)
QC_LR_DEN = 100  # step = -tdiv(gradient_sum, n_docs * QC_LR_DEN)
QC_LABEL_NTOK = 55  # seed heuristic: quality doc <=> >= 55 tokens
_Q = 1_000_000  # micro-unit fixed point
# Largest feature frame trained on the driver. Measured on a 4-core
# host, 8 buckets, frame persisted: driver path 1.9 s vs per-step loop
# 3.4 s at 1M rows, but 4.3 s vs 3.9 s at 2M; driver Python peak RSS
# grew 0.22 GB at 1M rows (CHANGES.md).
QC_DRIVER_MAX_ROWS = 1_000_000


# IEEE-double integer exactness limit: _tdiv's floor(abs/abs) routes
# through double, exact only for |operand| < 2^53. Pinned, not assumed:
# tests/test_scoring.py::test_tdiv_exact_to_double_boundary exercises
# the boundary, and train_logreg_fixedpoint asserts each step that the
# logit bound max|w| * max(sum x) stays under it.
_TDIV_EXACT_BOUND = 1 << 53


def _tdiv(col: Column, den: Column | int) -> Column:
    """Integer division truncating toward zero, engine-portable: both
    operands are routed through abs() so only non-negative division —
    where trunc and floor agree everywhere — ever executes.

    Exactness bound: floor(abs/abs) goes through IEEE double, which is
    exact only below 2^53 (_TDIV_EXACT_BOUND). That holds for every
    Spark-side call site — logits are bounded by (B+1) * max|w| *
    max(x) ~ 1e9 (ENFORCED per training step, see
    train_logreg_fixedpoint) and labels by 1e6 — because the one
    place big integers arise (gradient SUMS, ~n_docs * 1e9) is
    divided DRIVER-side in arbitrary-precision Python ints
    (train_logreg_fixedpoint.upd), never through this helper."""
    d = F.lit(den) if isinstance(den, int) else den
    q = F.floor(F.abs(col) / F.abs(d)).cast("long")
    return F.when(col < 0, -q).otherwise(q)


def doc_features(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = QC_BUCKETS,
) -> DataFrame:
    """(doc_id, ym, x0..x{B-1}, xb): hashed bucket counts, the
    constant bias feature, and the seed-heuristic label in micro-units.
    One explode + one map-side-combinable conditional aggregate."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    bucket = md5_mod("qc|", F.col("token"), n_buckets)
    aggs = [
        F.sum((bucket == j).cast("long")).cast("long").alias(f"x{j}")
        for j in range(n_buckets)
    ]
    feat = toks.groupBy("doc_id").agg(
        *aggs, F.count(F.lit(1)).cast("long").alias("ntok")
    )
    return feat.select(
        "doc_id",
        F.when(F.col("ntok") >= QC_LABEL_NTOK, F.lit(_Q))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ym"),
        *[f"x{j}" for j in range(n_buckets)],
        F.lit(QC_BIAS_X).cast("long").alias("xb"),
    )


def _logit(weights: list[int], n_buckets: int) -> Column:
    z = F.lit(0).cast("long")
    for j in range(n_buckets):
        z = z + F.lit(int(weights[j])) * F.col(f"x{j}")
    return z + F.lit(int(weights[n_buckets])) * F.col("xb")


def _spark_step(feat: DataFrame, cols: list[str], n_buckets: int):
    """Distributed step statistics: one combinable aggregate + a 1-row
    collect per call, the logit folded in from `w` as literals."""

    def step(w: list[int]) -> tuple[int, int, list[int]]:
        z = _logit(w, n_buckets)
        sig = F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(_Q).cast("long"), F.lit(_Q // 2) + _tdiv(z, 4)),
        )
        e = (sig - F.col("ym")).alias("e")
        row = (
            feat.select(e, *cols)
            .agg(
                F.count(F.lit(1)).alias("n"),
                # max feature-vector mass: one extra combinable max
                # that lets the driver pin the _tdiv exactness bound
                # on the NEXT step's logits (|z| <= max|w| * sum x)
                F.max(
                    sum((F.col(c) for c in cols), F.lit(0).cast("long"))
                ).alias("mx"),
                *[
                    F.sum(F.col("e") * F.col(c)).cast("long").alias(f"g{i}")
                    for i, c in enumerate(cols)
                ],
            )
            .collect()[0]
        )
        g = [int(row[f"g{i}"]) for i in range(len(cols))]
        return int(row["n"]), int(row["mx"]), g

    return step


def _driver_step(tbl, cols: list[str]):
    """Driver-side step statistics over the collected rows, in the
    same int64 arithmetic the aggregate in _spark_step runs."""
    import numpy as np

    x = np.column_stack([tbl.column(c).to_numpy() for c in cols])
    ym = tbl.column("ym").to_numpy()
    n = len(ym)
    mx = int(x.sum(axis=1).max())

    def step(w: list[int]) -> tuple[int, int, list[int]]:
        z = x @ np.array(w, dtype=np.int64)
        q = np.abs(z) // 4
        sig = np.clip(_Q // 2 + np.where(z < 0, -q, q), 0, _Q)
        g = (sig - ym) @ x
        return n, mx, [int(v) for v in g]

    return step


def train_logreg_fixedpoint(
    feat: DataFrame,
    *,
    n_buckets: int = QC_BUCKETS,
    steps: int = QC_STEPS,
    lr_den: int = QC_LR_DEN,
) -> list[int]:
    """Unrolled fixed-point gradient descent; returns the B+1 exact
    integer weight vector (micro-units).

    One Arrow collect of at most QC_DRIVER_MAX_ROWS + 1 rows picks the
    path. If it holds the whole frame (and no nulls), every step runs
    on the driver in numpy int64 (_driver_step); otherwise each step is
    one combinable aggregate + a 1-row collect (_spark_step), the
    collected rows discarded. Both compute the step's gradient sums in
    64-bit arithmetic that wraps identically (numpy int64; Spark BIGINT
    in the engine's non-ANSI session), so the paths agree bit for bit.
    The update happens driver-side in arbitrary-precision Python ints,
    so no overflow is possible there.
    """
    cols = [f"x{j}" for j in range(n_buckets)] + ["xb"]
    # cast: an INT column would reach numpy as int32 and wrap at 2^31,
    # where Spark's e * x is already BIGINT
    tbl = (
        feat.select(*[F.col(c).cast("long") for c in ["ym", *cols]])
        .limit(QC_DRIVER_MAX_ROWS + 1)
        .toArrow()
    )
    if tbl.num_rows <= QC_DRIVER_MAX_ROWS and not any(
        c.null_count for c in tbl.columns
    ):
        step = _driver_step(tbl, cols)
    else:
        step = _spark_step(feat, cols, n_buckets)
    del tbl  # _driver_step keeps a numpy copy; free the Arrow one
    w = [0] * (n_buckets + 1)
    for _ in range(steps):
        n_docs, mx, g = step(w)
        den = n_docs * lr_den

        def upd(wj: int, gj: int) -> int:
            q = abs(gj) // den
            return wj - (-q if gj < 0 else q)

        w = [upd(wj, gj) for wj, gj in zip(w, g)]
        # the weights just computed feed the next step's logit z (and,
        # after the last step, logreg_scores over this same feature
        # frame); _tdiv(z, 4) is exact only for |z| < 2^53, so pin the
        # invariant here in exact Python-int arithmetic rather than
        # assuming the docstring's magnitude argument
        z_bound = max(abs(x) for x in w) * mx
        if z_bound >= _TDIV_EXACT_BOUND:
            raise OverflowError(
                f"logit bound {z_bound} exceeds _tdiv's 2^53 double-"
                "exactness limit; rescale weights/features (quality.py)"
            )
    return w


def logreg_scores(
    feat: DataFrame, weights: list[int], *, n_buckets: int = QC_BUCKETS
) -> DataFrame:
    """Serve the trained model: (doc_id, label, logit_q, keep) — a
    narrow map over the feature frame, keep <=> logit >= 0."""
    z = _logit(weights, n_buckets).alias("logit_q")
    return feat.select(
        "doc_id",
        _tdiv(F.col("ym"), _Q).alias("label"),
        z,
        (_logit(weights, n_buckets) >= 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle generator: the SAME unrolled loop as chained CTEs, so
# the oracle re-derives the weights from scratch — the gate proves the
# distributed trainer's whole trajectory, not just the final scores.
# ---------------------------------------------------------------------------


def _tdiv_sql(expr: str, den: str) -> str:
    return (
        f"(CASE WHEN ({expr}) < 0 THEN -((-({expr})) // ({den}))"
        f" ELSE ({expr}) // ({den}) END)"
    )


def logreg_oracle_sql(
    *,
    n_buckets: int = QC_BUCKETS,
    steps: int = QC_STEPS,
    lr_den: int = QC_LR_DEN,
) -> str:
    bucket = md5_mod_sql("qc|", "token", n_buckets)
    xs = [f"x{j}" for j in range(n_buckets)] + ["xb"]
    xsum = " + ".join(
        f"CAST(SUM(CASE WHEN {bucket} = {j} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS x{j}"
        for j in range(n_buckets)
    )
    ctes = [
        "toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token"
        " FROM documents)",
        f"""feat AS (
      SELECT doc_id, {xsum.replace(' + ', ', ')},
             CAST(COUNT(*) AS BIGINT) AS ntok
      FROM toks GROUP BY doc_id)""",
        f"""f AS (
      SELECT doc_id,
             CASE WHEN ntok >= {QC_LABEL_NTOK}
                  THEN CAST({_Q} AS BIGINT) ELSE CAST(0 AS BIGINT) END AS ym,
             {', '.join(f'x{j}' for j in range(n_buckets))},
             CAST({QC_BIAS_X} AS BIGINT) AS xb
      FROM feat)""",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f)",
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(len(xs)))
        + ")",
    ]
    for s in range(1, steps + 1):
        prev = f"w{s - 1}" if s > 1 else "w0"
        z = " + ".join(f"w.w{i} * f.{c}" for i, c in enumerate(xs))
        sig = (
            f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({_Q} AS BIGINT), "
            f"{_Q // 2} + {_tdiv_sql('z', '4')}))"
        )
        gsums = ", ".join(
            f"CAST(SUM(e * {c}) AS BIGINT) AS g{i}"
            for i, c in enumerate(xs)
        )
        ctes.append(f"""e{s} AS (
      SELECT {sig} - ym AS e,
             {', '.join(xs)}
      FROM (SELECT f.*, {z} AS z FROM f CROSS JOIN {prev} w))""")
        ctes.append(f"g{s} AS (SELECT {gsums} FROM e{s})")
        wupd = ", ".join(
            f"w.w{i} - {_tdiv_sql(f'g.g{i}', f'nn.n * {lr_den}')} AS w{i}"
            for i in range(len(xs))
        )
        ctes.append(
            f"wg{s} AS (SELECT {wupd}"
            f" FROM {prev} w CROSS JOIN g{s} g CROSS JOIN nn)"
        )
        ctes.append(f"w{s} AS (SELECT * FROM wg{s})")
    zf = " + ".join(f"w.w{i} * f.{c}" for i, c in enumerate(xs))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT f.doc_id, ym // {_Q} AS label,
           CAST({zf} AS BIGINT) AS logit_q,
           ({zf}) >= 0 AS keep
    FROM f CROSS JOIN w{steps} w"""
    )
