"""Local replica of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() on DuckDB over the same sf directory, then compares
row count, column names, and order-insensitive values. Exit code 0
iff everything matches. Run while iterating:

    python tools/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hha_spark.session import get_spark  # noqa: E402
from hha_spark.sources.tables import TABLE_NAMES  # noqa: E402


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        else:
            out[c] = s
        # decimals arrive as objects from duckdb sometimes
        if out[c].dtype == object:
            try:
                out[c] = pd.to_numeric(out[c])
            except (ValueError, TypeError):
                out[c] = out[c].astype(str)
    res = pd.DataFrame(out)
    res = res.sort_values(by=list(res.columns), kind="mergesort").reset_index(drop=True)
    return res


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


# DuckDB result types the driver's pandas bridge handles identically to
# Spark's toPandas(). Anything else (HUGEINT, DECIMAL, UBIGINT, ...) can
# materialize as a different pandas dtype than the Spark side (e.g.
# HUGEINT -> float64 vs Spark int64), which passes a value-normalized
# compare but fails the driver's raw value hash — the exact class behind
# the three round-4 reds. Fail loudly here instead.
_ALLOWED_DUCK_TYPES = {
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "DOUBLE",
    "FLOAT",
    "VARCHAR",
    "BOOLEAN",
    "DATE",
    "TIMESTAMP",
    "TIMESTAMP WITH TIME ZONE",
}


def _dtype_kind(dtype) -> str:
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    return "object"


def strictness_problems(
    duck_types: list[tuple[str, str]],
    spark_pdf: pd.DataFrame,
    duck_pdf: pd.DataFrame,
) -> list[str]:
    """Driver-replica strictness: (1) every oracle column's DuckDB type
    must be in the allowed set, (2) the pandas dtype KIND of each column
    must agree between the Spark and DuckDB frames. Either violation
    means the driver's value-hash can diverge on equal values."""
    problems = []
    for col, t in duck_types:
        if t.upper() not in _ALLOWED_DUCK_TYPES:
            problems.append(
                f"oracle column {col!r} has DuckDB type {t} — "
                f"CAST it to one of {sorted(_ALLOWED_DUCK_TYPES)}"
            )
    for c in spark_pdf.columns:
        if c not in duck_pdf.columns:
            continue
        ka, kb = _dtype_kind(spark_pdf[c].dtype), _dtype_kind(duck_pdf[c].dtype)
        if ka != kb:
            problems.append(
                f"dtype kind mismatch on {c!r}: spark={spark_pdf[c].dtype} "
                f"({ka}) vs duck={duck_pdf[c].dtype} ({kb}) — driver hash "
                f"would diverge on equal values"
            )
    return problems


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = norm_frame(spark_pdf), norm_frame(duck_pdf)
    n = min(len(a), len(b))
    bad = 0
    for i in range(n):
        for c in a.columns:
            va, vb = a[c].iloc[i], b[c].iloc[i]
            pa = va is None or (isinstance(va, float) and math.isnan(va)) or va is pd.NA
            pb = vb is None or (isinstance(vb, float) and math.isnan(vb)) or vb is pd.NA
            if pa and pb:
                continue
            if pa != pb or not values_equal(va, vb):
                if bad < 3:
                    problems.append(f"row {i} col {c}: spark={va!r} duck={vb!r}")
                bad += 1
    if bad:
        problems.append(f"{bad} mismatched cells")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if os.environ.get("HHA_SELFCHECK_DRIVER_SESSION"):
        # replicate the DRIVER's environment, not our tuned one:
        # default config = ANSI mode ON, 200 shuffle partitions. Any
        # query passing only under get_spark's ANSI-off session is a
        # latent driver-gate failure.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .appName("selfcheck-driver")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP  {name}: no oracle (rows-only check: {len(spark_pdf)} rows)")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_types = list(zip(rel.columns, [str(t) for t in rel.types]))
            duck_pdf = rel.fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        problems = strictness_problems(duck_types, spark_pdf, duck_pdf)
        problems += compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL  {name} ({len(spark_pdf)} rows):")
            for p in problems:
                print(f"      {p}")
            failures += 1
        else:
            print(f"OK    {name} ({len(spark_pdf)} rows)")
    spark.stop()
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
