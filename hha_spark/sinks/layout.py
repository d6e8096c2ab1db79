"""Z-order (Morton) clustering key for multi-column data skipping.

Parquet readers skip whole files/row groups whose footer min-max range
excludes the predicate. A single-column sort gives perfect skipping on
that column and none on any other; interleaving the bits of two
normalized keys (a Z-order / Morton curve) gives useful min-max
locality on both columns at once, which is why lakehouse engines
expose `OPTIMIZE ... ZORDER BY`. Spark has no built-in; this module
builds the key as pure JVM bit arithmetic (shift/mask spreading, no
UDFs), to cluster a write with repartitionByRange +
sortWithinPartitions on it. The events_zorder_keys registry query
checks the key against a DuckDB twin.

Reference parity: the reference scans whole hour-files per cycle
(hha.py:241-265, HadoopFileWorker), so file layout is its pruning
story (one file per hour). Z-ordering generalizes that to more than
one predicate dimension.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ZBITS = 16  # per-dimension resolution: 2^16 cells per axis


def _spread_bits(x: Column) -> Column:
    """Spread the low 16 bits of x so consecutive input bits land two
    apart (0bABCD -> 0bA0B0C0D0): the classic Morton magic-mask
    cascade, each step a shift+or+mask on a BIGINT — whole-stage
    codegen arithmetic, no UDF."""
    x = x.cast("long").bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def _normalize(col: Column, lo: Column, hi: Column, bits: int = ZBITS) -> Column:
    """Scale a NUMERIC col from [lo, hi] to an integer in [0, 2^bits):
    floor((col-lo)*(2^bits-1)/span). The double division can wobble a
    value at a cell boundary by one cell when (col-lo)*2^16 exceeds
    2^53 — irrelevant for a layout key (it moves a row one file over,
    never changes query results)."""
    span = F.greatest(hi - lo, F.lit(1))
    scaled = ((col - lo) * F.lit((1 << bits) - 1)) / span
    return F.floor(scaled).cast("long")


def zorder_key(a: Column, b: Column) -> Column:
    """Interleave two pre-normalized [0, 2^16) integers into one
    32-bit Morton key (a gets the even bits, b the odd)."""
    return _spread_bits(a).bitwiseOR(F.shiftleft(_spread_bits(b), 1))

