"""The salted join must be row-identical to the plain join."""

from __future__ import annotations


def test_salted_join_row_identical_to_plain_join(spark):
    from hha_spark.operators.skew import salted_join

    # one hot key (90% of rows) + a long tail
    big = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], "k long, v long"
    )
    small = spark.createDataFrame(
        [(1, "hot"), (20, "cold"), (30, "cold"), (999, "tail")], "k long, tag string"
    )
    plain = big.join(small, on="k").groupBy("k", "tag").count()
    salted = salted_join(big, small, on=["k"], salt_buckets=8).groupBy(
        "k", "tag"
    ).count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join parity incl. non-matching rows
    pl = big.join(small, on="k", how="left").count()
    sl = salted_join(big, small, on=["k"], salt_buckets=8, how="left").count()
    assert pl == sl == 1000


def test_salted_join_bit_identical_to_plain_join(spark):
    """salted_join must reproduce the plain join exactly — including
    duplicate small-side keys (each big row meets each match once)
    and, for left joins, unmatched rows."""
    from pyspark.sql import functions as F

    from hha_spark.operators.skew import salted_join

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    # duplicate small-side keys: union a subset twice
    dup_small = orders.unionByName(orders.limit(50))

    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, li.join(dup_small, on="l_orderkey", how=how).collect())
        )
        salted = sorted(
            map(
                tuple,
                salted_join(
                    li, dup_small, on=["l_orderkey"], salt_buckets=7, how=how
                ).collect(),
            )
        )
        assert salted == plain and len(plain) > 0
