"""Cross-engine-deterministic aggregate expressions.

The driver's correctness gate hash-compares our Spark results against
DuckDB oracles. Floating-point SUM/AVG are accumulation-order-
dependent, so the same query can legitimately differ in the last ulp
between engines (and between runs, once partial aggregation reorders
partitions at scale). These helpers keep all money/measure arithmetic
EXACT:

  * per-row values are cast to DECIMAL before summing (2-decimal
    inputs are exactly representable; products of decimals are exact
    when precision allows);
  * quotients are floored on integers or emitted as double only at
    the very end (exact decimal -> double conversion is deterministic);
  * integer division uses DIV (Spark) / // (DuckDB) semantics — equal
    to floor(avg) for the non-negative counters this engine handles.

Another cross-engine trap handled by construction: DuckDB
CAST(double AS INT) ROUNDS while Spark truncates — we never cast
fractional values directly, always FLOOR first.

Decimal -> double boundary (round-4 finding): the "exact decimal ->
double conversion is deterministic" claim holds only while the
SCALED integer fits in 2^53. Above that, Spark's BigDecimal
.doubleValue() is correctly rounded but DuckDB converts scaled-int
and 10^-scale separately (two roundings), so the engines can differ
by 1 ulp — observed on a ~7e16 cent^2 second moment
(queries/relational5.py) and possible on any >2^63 HUGEINT
(operators/semantic.py cent_norm). The fix pattern is
CAST(CAST(x AS STRING) AS DOUBLE): decimal->string is exact and
string->double is one correctly-rounded step in both engines. The
dec_sum helpers below are safe unchanged through the tested scales
(scaled sums <= ~3e12 cents at sf0.1; the 2^53 envelope is reached
around sf100 on the largest money sums — route through a string
before running there).

int64-product envelope (rounds 6-7 discipline): any product of a
count with another count or a ppm constant gets an explicit envelope
argument at 100 TB scale (~1e13 tokens / ~1e11 docs). Where the
product can wrap int64 inside that envelope while the QUOTIENT still
fits BIGINT, the product runs in DECIMAL(38,0) on the Spark side and
HUGEINT in the oracle, with a past-wrap unit test — Spark (non-ANSI)
wraps silently exactly where DuckDB raises, so the gate cannot see
the divergence otherwise. Instances: mixture_readout
(operators/corpus.py), dsir_bucket_ratios (queries/scoring.py),
bigram_q_col (operators/text.py). Where the OUTPUT column itself
would exceed BIGINT, the declared-schema bound is documented at the
operator instead (unigram_lm_scores sum_tf).

These are written as SQL expression strings (F.expr) so the Spark
fragment and the oracle fragment are textually reviewable
side-by-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec_sum(col: str, scale: int = 2, out: str | None = None) -> Column:
    """Exact SUM of a fixed-point-valued double column, emitted as DOUBLE."""
    e = F.expr(f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE)")
    return e.alias(out) if out else e


def dec_sum_mul(col_a: str, one_plus_minus: str, out: str | None = None) -> Column:
    """Exact SUM(a * (1 ± b)) for money columns, emitted as DOUBLE.

    DECIMAL(18,2) × DECIMAL(8,4) keeps precision ≤ 31, so the product
    is exact in both Spark and DuckDB.
    """
    e = F.expr(
        f"CAST(SUM(CAST({col_a} AS DECIMAL(18,2)) * "
        f"CAST({one_plus_minus} AS DECIMAL(8,4))) AS DOUBLE)"
    )
    return e.alias(out) if out else e


def trunc_avg_exact(col: str, out: str = "sum_val") -> Column:
    """floor(avg(col)) computed exactly: decimal SUM / COUNT, floored.

    Deterministic analogue of the reference's int(avg(x)) (hha.py:143)
    for fractional inputs.
    """
    return F.expr(
        f"CAST(FLOOR(SUM(CAST({col} AS DECIMAL(18,6))) / COUNT(*)) AS BIGINT)"
    ).alias(out)

