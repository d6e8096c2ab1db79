"""Skew-proof equi-join: salt the big side, replicate the small.

DDoS histogram data is inherently skewed: the attacked dst_ip holds a
large share of all rows (FIXTURES.md §A1 scenario 7), so a plain
shuffled join sends that key's entire volume to one task. AQE's
skew-join splitting (enabled in session.py) covers joins when it can
observe the skew; `salted_join` is the explicit form, backing the
events_salted_join registry query and pinned row-identical to the
plain join by test_skew.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    *,
    on: Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: salt the big side, replicate the small.

    A hot join key sends its whole volume to one task in a plain
    shuffled join. Here every big-side row gets a salt derived from
    the ROW (not the key), spreading a hot key over `salt_buckets`
    tasks; the small side is replicated once per bucket (an in-row
    explode — its cost is salt_buckets x |small|, the price of the
    spread) and the join runs on (key..., salt). Row-for-row
    identical to the plain join for inner/left joins on unique
    small-side keys and for duplicate ones too — each big row still
    meets each matching small row exactly once, in exactly one
    bucket (pinned bit-identical by test_skew.py).

    AQE's skew-join split (session.py) handles this adaptively when
    it can observe the skew; the explicit form is for when you know
    the hot keys up front (the reference's attacked-dst_ip shape,
    FIXTURES.md §A1) or the join sits where AQE can't re-plan (e.g.
    inside a streaming micro-batch, which runs without AQE).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = list(on)
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.hash(F.monotonically_increasing_id()), salt_buckets),
    )
    replicated = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    return salted_big.join(
        replicated, on=[*keys, "_salt"], how=how
    ).drop("_salt")
