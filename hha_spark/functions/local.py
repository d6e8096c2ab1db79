"""Driver-local bounded frames as Arrow tables — pure-JVM scans.

The engine builds many small driver-side frames (gate rollups, model
artifacts, probe dimensions). ``createDataFrame(list-or-rows)`` routes
them through a pickled Python RDD: every downstream scan — the bench's
noop force, an oracle collect, EVERY re-evaluation of a broadcast build
side — launches Python worker tasks, and this sandbox charges ~0.2 s of
protocol latency per Python-touching task (measured round 11; the
round-11 fix cut the partition count 32 -> 1 but kept one Python task
per scan). An Arrow-table ``createDataFrame`` ships the same rows as
one Arrow batch the JVM scans directly: zero Python tasks, ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

# schema DDL -> parsed StructType, so per-epoch/per-call frames don't
# re-parse their (module-constant) schema strings
_PARSED: dict[str, StructType] = {}


def _pa_type(dt: DataType):
    import pyarrow as pa

    if isinstance(dt, LongType):
        return pa.int64()
    if isinstance(dt, IntegerType):
        return pa.int32()
    if isinstance(dt, StringType):
        return pa.string()
    if isinstance(dt, DoubleType):
        return pa.float64()
    if isinstance(dt, FloatType):
        return pa.float32()
    if isinstance(dt, ArrayType):
        return pa.list_(_pa_type(dt.elementType))
    raise TypeError(f"unsupported local-frame column type: {dt}")


def sql_over_views(
    session: SparkSession,
    template: str,
    frames: dict[str, DataFrame] | None = None,
    *,
    args: dict[str, object] | None = None,
    **literals,
) -> DataFrame:
    """Run a fused SQL statement with every referenced frame
    registered as an EXPLICIT temp view — never via ``spark.sql``'s
    ``{df}`` kwargs. PySpark's kwarg formatter registers a throwaway
    view per frame and then drops it (SQLStringFormatter.clear ->
    dropTempView), and dropping a temp view UNCACHES the plan it
    points at: substituting a persisted frame evicts its persist()
    entry, so every later consumer recomputes it from scratch
    (measured round 12: the curation funnel's store write re-derived
    the whole candidate-join chain, t_write ~6x). Explicit
    createOrReplaceTempView — one py4j call per frame, the same
    boundary cost the formatter pays — keeps cache reuse intact. The
    views are deliberately left registered: replaced on the next
    call, never dropped (dropping is exactly the eviction being
    avoided), and scoped to `session` (foreachBatch bodies run on a
    per-batch clone, so nothing leaks to the main session). Every
    frame must already live on `session`.

    `args` pass through to ``session.sql`` and bind the statement's
    named parameter markers (``:name``): values that change per call
    belong there, so the statement text stays the same string.
    `literals` are formatted into the SQL text, so only int and float
    (never bool) are accepted; anything else raises TypeError here
    rather than as a parse error far away. Reusing one view name per
    key is safe only because classic PySpark analyzes ``session.sql``
    eagerly: the returned frame is bound to the plan the view names
    NOW, so a later call re-pointing the view cannot retarget it.
    Spark Connect analyzes lazily — audit this helper before any move
    to Connect.
    """
    for key, val in literals.items():
        if isinstance(val, bool) or not isinstance(val, (int, float)):
            raise TypeError(
                f"sql_over_views literal {key}={val!r}: only int or float"
            )
    names = {}
    for key, df in (frames or {}).items():
        name = f"_hha_fused_{key}"
        df.createOrReplaceTempView(name)
        names[key] = name
    return session.sql(template.format(**names, **literals), args=args)


def _struct(schema: str | StructType) -> StructType:
    if isinstance(schema, StructType):
        return schema
    st = _PARSED.get(schema)
    if st is None:
        st = StructType.fromDDL(schema)
        _PARSED[schema] = st
    return st


def arrow_rows_table(rows, schema: str | StructType):
    """Bounded driver-local rows (tuples or pyspark Rows, positional)
    as a pyarrow Table with the given DDL or StructType `schema`. A
    null in a NOT NULL field raises ValueError: neither pyarrow (16.1,
    not even ``validate(full=True)``) nor the Arrow
    ``createDataFrame`` path checks it."""
    import pyarrow as pa

    cols = {}
    for i, f in enumerate(_struct(schema).fields):
        arr = pa.array([r[i] for r in rows], _pa_type(f.dataType))
        if not f.nullable and arr.null_count:
            raise ValueError(f"null in NOT NULL column {f.name!r}")
        cols[f.name] = arr
    return pa.table(cols)


def arrow_rows_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """`arrow_rows_table(rows, schema)` as an Arrow-backed DataFrame."""
    return spark.createDataFrame(arrow_rows_table(rows, schema), _struct(schema))
