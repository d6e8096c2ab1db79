"""The two driver-local frame constructors behind the streaming
gates' fixed costs (round-11 optimization): pre-first-write store
reads must plan as a zero-task JVM LocalRelation, and gate-result
rollups must occupy ONE partition — not a defaultParallelism-wide
Python RDD whose every scan launches ~one zero-row Python worker
task per core (the measured epoch-0 pathology: 32-34-task stages
with ~17 s of executor wait and ~0.3 s of CPU per probe)."""

from __future__ import annotations

from functools import partial

import pytest

from hha_spark.functions.local import arrow_rows_frame, sql_over_views
from hha_spark.streaming.joins import make_disorder_attribution_processor
from hha_spark.streaming.sessionize import (
    _empty_frame,
    _read_versioned,
    make_disorder_sessionize_processor,
    read_kind_history,
)

_SCHEMA = "doc_id long, tokens array<string>, kind string"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_empty_frame_is_local_relation(spark):
    df = _empty_frame(spark, _SCHEMA)
    plan = _executed(df)
    # zero-task JVM literal, not a parallelized Python RDD
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert df.columns == ["doc_id", "tokens", "kind"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "array<string>",
        "string",
    ]
    assert df.count() == 0


def test_pre_first_write_reads_are_local_relations(spark, tmp_path):
    root = str(tmp_path / "store")
    rv = _read_versioned(spark, root, _SCHEMA)
    kh = read_kind_history(
        spark, root, "doc", _SCHEMA, ("doc_id", "tokens", "kind")
    )
    for df in (rv, kh):
        assert "LocalTableScan" in _executed(df)
        assert "ExistingRDD" not in _executed(df)
        assert df.count() == 0
    # an empty LocalRelation lets Catalyst prune the whole prev-state
    # branch out of an epoch-0 plan (PropagateEmptyRelation) — the
    # join below must optimize to an empty LocalTableScan, not plan a
    # real join over a 32-partition Python RDD
    probe = spark.range(5).selectExpr("id AS doc_id").join(
        rv.select("doc_id"), "doc_id"
    )
    assert "LocalTableScan" in _executed(probe)
    assert "Join" not in _executed(probe)


def test_sql_over_views_preserves_persist_cache(spark):
    """Fused SQL statements must reference frames through EXPLICIT
    temp views (sql_over_views), never spark.sql's {df} kwargs: the
    kwarg formatter's cleanup (dropTempView) UNCACHES the substituted
    frame, so a persisted frame referenced by a fused statement is
    both recomputed by that statement and evicted for every later
    consumer (measured round 12: funnel t_write ~6x)."""
    df = spark.range(100).selectExpr("id", "id * 2 AS y").persist()
    try:
        df.count()  # materialize the cache entry
        out = sql_over_views(
            spark, "SELECT sum(y) AS s FROM {d}", frames={"d": df}
        )
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan  # the statement reuses it
        assert out.collect()[0][0] == sum(2 * i for i in range(100))
        # ...and the entry survives the statement (the kwarg form
        # would have evicted it here)
        again = df.groupBy().sum("y")
        plan2 = again._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan2
    finally:
        df.unpersist()


def test_local_rows_arrow_localtablescan_roundtrip(spark):
    """Gate-result frames are Arrow-backed LocalTableScans: zero
    Python tasks on any downstream scan (round-12 follow-up to the
    round-11 1-partition fix), values and nulls round-tripping."""
    rows = [(1, "a"), (2, None), (3, "c")]
    df = arrow_rows_frame(spark, rows, "k long, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "PythonRDD" not in plan and "ExistingRDD" not in plan
    got = sorted((r.k, r.v) for r in df.collect())
    assert got == sorted(rows)
    empty = arrow_rows_frame(spark, [], "k long, v string")
    assert empty.count() == 0
    assert empty.schema.simpleString() == df.schema.simpleString()


def test_arrow_rows_frame_rejects_null_in_not_null_field(spark):
    """pyarrow 16.1 accepts a null under a non-nullable field (even
    with validate(full=True)), so the helper itself must reject it:
    ZONES_SCHEMA declares ip NOT NULL."""
    from hha_spark.schemas import ZONES_SCHEMA

    assert arrow_rows_frame(spark, [(1,), (2,)], ZONES_SCHEMA).count() == 2
    with pytest.raises(ValueError, match="'ip'"):
        arrow_rows_frame(spark, [(1,), (None,)], ZONES_SCHEMA)


# two epochs per disorder processor, each raising the watermark
_EPOCHS = {
    "sessionize": (
        partial(make_disorder_sessionize_processor, gap_us=100, disorder_us=50),
        "user_id long, ts_us long",
        [[(1, 0), (1, 500)], [(1, 1000)]],
    ),
    "attribution": (
        partial(
            make_disorder_attribution_processor,
            max_delay_sec=100,
            disorder_sec=200,
        ),
        "user_id long, ts_s long, etype string",
        [
            [(1, 0, "click"), (1, 80, "purchase"), (1, 500, "click")],
            [(1, 1000, "purchase")],
        ],
    ),
}


@pytest.mark.parametrize("processor", sorted(_EPOCHS))
def test_disorder_epoch_statement_text_holds_no_values(
    spark, tmp_path, monkeypatch, processor
):
    """The disorder processors' per-epoch statement is one fixed
    string: the epoch's watermark and the gap/delay bounds bind
    parameter markers, so two epochs with different watermarks send
    byte-identical SQL text."""
    from pyspark.sql import SparkSession

    make, schema, batches = _EPOCHS[processor]
    proc = make(spark, store_root=str(tmp_path / "store"))

    sent = []
    real_sql = SparkSession.sql

    def recording_sql(self, sqlQuery, args=None, **kwargs):
        sent.append((sqlQuery, args))
        return real_sql(self, sqlQuery, args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", recording_sql)
    per_epoch = []
    for epoch, rows in enumerate(batches):
        sent.clear()
        proc(spark.createDataFrame(rows, schema), epoch)
        per_epoch.append(list(sent))

    [(fused0, wm0)], [(fused1, wm1)] = (
        [(t, a["wm"]) for t, a in calls if a and "wm" in a]
        for calls in per_epoch
    )
    assert fused0 == fused1 and wm0 != wm1
    assert ":wm" in fused0 and str(wm0) not in fused0
