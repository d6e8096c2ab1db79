"""Seventh coverage batch: the partsupp-dependent TPC-H shapes
(Q2, Q11, Q16, Q20), completing all 22 query shapes.

The fixture schema has no partsupp table, so one is DERIVED — the
distinct (l_partkey, l_suppkey) pairs that actually traded, with
deterministic integer-arithmetic attributes:

    ps_supplycost_cents = (l_partkey*31 + l_suppkey*17) % 10000
    ps_availqty         = (l_partkey*7  + l_suppkey*3)  % 1000 + 1

Both engines derive the SAME frame from the same parquet (the oracle
embeds the identical CTE), so the gate checks the query logic, not
the synthesis. Everything stays in integer cents/units — these four
queries contain no floating point at all until display columns.

Plan shapes preserved from the real TPC-H:
  Q2  — correlated min-subquery per part -> aggregate-once + equality
        join back (same decorrelation as Q17).
  Q11 — group-sum vs a scalar fraction of the global sum -> broadcast
        1-row total.
  Q16 — count-distinct suppliers per part attribute group, with an
        exclusion anti-join.
  Q20 — nested semi-joins: suppliers having a part whose availqty
        exceeds half its shipped quantity.

The derived-partsupp aggregation shuffles lineitem once per query on
(partkey, suppkey); at 100 TB a real deployment would materialize it
as a bucketed table (`bucketBy` + `saveAsTable`) and every query below
would read it shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hha_spark.sources.tables import load_table


def _t(spark, sf_dir, name) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _partsupp(spark, sf_dir) -> DataFrame:
    """Derived partsupp: one row per (part, supplier) pair seen in
    lineitem, with deterministic cost/availability attributes."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
            ((F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 10000).alias(
                "ps_supplycost_cents"
            ),
            ((F.col("l_partkey") * 7 + F.col("l_suppkey") * 3) % 1000 + 1).alias(
                "ps_availqty"
            ),
        )
    )


ORACLE_PS = """
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             (l_partkey*31 + l_suppkey*17) % 10000 AS ps_supplycost_cents,
             (l_partkey*7 + l_suppkey*3) % 1000 + 1 AS ps_availqty
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
"""


# --- Q2 analogue: minimum-cost supplier --------------------------------------

Q2_SIZE, Q2_TYPE, Q2_REGION = 15, "SMALL", "ASIA"


def q2_min_cost_supplier(spark, sf_dir):
    """For each part of one size/type, the region's cheapest
    supplier(s) — the classic correlated MIN subquery, decorrelated:
    region-scoped partsupp aggregates min cost per part ONCE, then
    equality-joins back (integer cents, so the tie-keeping equality
    is exact). Dimensions broadcast; partsupp derives from one
    lineitem distinct.
    """
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == Q2_REGION)
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE)
    ).select("p_partkey", "p_brand")
    ps = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
        .join(
            F.broadcast(supp.select("s_suppkey")),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
    )
    min_cost = ps.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_cents").alias("min_cents")
    ).withColumnRenamed("ps_partkey", "mc_partkey")
    best = ps.join(
        F.broadcast(min_cost),
        (F.col("ps_partkey") == F.col("mc_partkey"))
        & (F.col("ps_supplycost_cents") == F.col("min_cents")),
    )
    return (
        best.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_brand",
            F.col("ps_supplycost_cents").cast("long").alias("cost_cents"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


ORACLE_Q2 = f"""
    WITH ps AS ({ORACLE_PS}),
    scoped AS (
      SELECT ps.*
      FROM ps
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = '{Q2_REGION}'
        AND ps_partkey IN (SELECT p_partkey FROM part
                           WHERE p_size = {Q2_SIZE} AND p_type = '{Q2_TYPE}')),
    mc AS (SELECT ps_partkey AS mc_partkey,
                  MIN(ps_supplycost_cents) AS min_cents
           FROM scoped GROUP BY ps_partkey)
    SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey, p_brand,
           CAST(ps_supplycost_cents AS BIGINT) AS cost_cents
    FROM scoped
    JOIN mc ON ps_partkey = mc_partkey AND ps_supplycost_cents = min_cents
    JOIN part ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""


# --- Q11 analogue: important stock -------------------------------------------

Q11_NATION = "NATION_12"  # has suppliers at every fixture scale
Q11_FRACTION_DEN = 1000  # parts holding > total/1000 of the value


def q11_important_stock(spark, sf_dir):
    """Parts whose stock value in one nation exceeds a fraction of the
    nation's total stock value — Q11's HAVING-vs-scalar-subquery. All
    value math is integer cents x units (BIGINT); the global total
    rides a broadcast 1-row frame and the fraction test is integer
    cross-multiplication, no division anywhere.
    """
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == Q11_NATION)
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    ps = _partsupp(spark, sf_dir).join(
        F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    per_part = ps.groupBy("ps_partkey").agg(
        F.sum(
            F.col("ps_supplycost_cents").cast("long") * F.col("ps_availqty")
        ).alias("value_cents")
    )
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.join(F.broadcast(total))
        .where(
            F.col("value_cents") * Q11_FRACTION_DEN > F.col("total_cents")
        )
        .select("ps_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "ps_partkey")
    )


ORACLE_Q11 = f"""
    WITH ps AS ({ORACLE_PS}),
    scoped AS (
      SELECT ps.* FROM ps
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = '{Q11_NATION}'),
    per_part AS (
      SELECT ps_partkey,
             CAST(SUM(CAST(ps_supplycost_cents AS BIGINT) * ps_availqty)
                  AS BIGINT) AS value_cents
      FROM scoped GROUP BY ps_partkey),
    tot AS (SELECT SUM(value_cents) AS total_cents FROM per_part)
    SELECT ps_partkey, value_cents
    FROM per_part, tot
    WHERE value_cents * {Q11_FRACTION_DEN} > total_cents
    ORDER BY value_cents DESC, ps_partkey
"""


# --- Q16 analogue: part/supplier relationship counts -------------------------

Q16_EXCL_BRAND = "Brand#9"
Q16_EXCL_NATION = "NATION_0"


def q16_supplier_relationship(spark, sf_dir):
    """How many distinct suppliers serve each (brand, type, size)
    group, excluding one brand and the suppliers of one nation
    (standing in for Q16's complaint filter) — count-distinct over a
    semi-filtered, anti-filtered pair frame. The anti-join side is a
    broadcast; the count-distinct shuffles the deduped pair rows only.
    """
    part = _t(spark, sf_dir, "part").where(
        F.col("p_brand") != Q16_EXCL_BRAND
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").where(F.col("n_name") == Q16_EXCL_NATION)
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    ps = _partsupp(spark, sf_dir).join(
        F.broadcast(bad_supp), F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        ps.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


ORACLE_Q16 = f"""
    WITH ps AS ({ORACLE_PS})
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> '{Q16_EXCL_BRAND}'
      AND ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = '{Q16_EXCL_NATION}')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --- Q20 analogue: potential part promotion ----------------------------------

Q20_NATION = "NATION_12"  # has suppliers at every fixture scale
Q20_WORD = "widget"
Q20_LO, Q20_HI = "1996-01-01", "1997-01-01"


def q20_promotion_suppliers(spark, sf_dir):
    """Suppliers in one nation holding excess stock of a part family:
    availqty > half the quantity they shipped of that part in one year
    — Q20's nested EXISTS chain as two semi-joins and one
    aggregate-join. The half test is integer cross-multiplication
    (2*availqty*1 > shipped) with shipped quantities summed as exact
    decimals floored to integers (quantities are whole numbers in
    this dataset).
    """
    part = _t(spark, sf_dir, "part").where(
        F.col("p_name").contains(Q20_WORD)
    ).select("p_partkey")
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit(Q20_LO).cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(Q20_HI).cast("timestamp_ntz"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.expr(
                "CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,2)))) AS BIGINT)"
            ).alias("shipped_qty")
        )
    )
    ps = _partsupp(spark, sf_dir).join(
        F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"), "left_semi"
    )
    excess = ps.join(
        shipped,
        (F.col("ps_partkey") == F.col("l_partkey"))
        & (F.col("ps_suppkey") == F.col("l_suppkey")),
    ).where(F.lit(2) * F.col("ps_availqty") > F.col("shipped_qty"))
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == Q20_NATION)
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    return (
        supp.join(
            excess.select("ps_suppkey").distinct(),
            F.col("s_suppkey") == F.col("ps_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


ORACLE_Q20 = f"""
    WITH ps AS ({ORACLE_PS}),
    fam AS (SELECT p_partkey FROM part WHERE p_name LIKE '%{Q20_WORD}%'),
    shipped AS (
      SELECT l_partkey, l_suppkey,
             CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,2)))) AS BIGINT)
                 AS shipped_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{Q20_LO}'
        AND l_shipdate < TIMESTAMP '{Q20_HI}'
        AND l_partkey IN (SELECT p_partkey FROM fam)
      GROUP BY l_partkey, l_suppkey),
    excess AS (
      SELECT DISTINCT ps_suppkey
      FROM ps
      JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      WHERE ps_partkey IN (SELECT p_partkey FROM fam)
        AND 2 * ps_availqty > shipped_qty)
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = '{Q20_NATION}'
      AND s_suppkey IN (SELECT ps_suppkey FROM excess)
    ORDER BY s_suppkey
"""


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_stock": q11_important_stock,
    "q16_supplier_relationship": q16_supplier_relationship,
    "q20_promotion_suppliers": q20_promotion_suppliers,
}

ORACLES = {
    "q2_min_cost_supplier": ORACLE_Q2,
    "q11_important_stock": ORACLE_Q11,
    "q16_supplier_relationship": ORACLE_Q16,
    "q20_promotion_suppliers": ORACLE_Q20,
}
