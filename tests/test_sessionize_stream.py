"""Stateful cross-batch streaming sessionization
(streaming/sessionize.py): multi-micro-batch replay equals one-shot
batch sessionization, the state table stays bounded to one open
session per active user, and the merge pass is exercised by sessions
that genuinely span batch boundaries."""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from hha_spark.streaming import replay_files
from hha_spark.streaming.sessionize import (
    final_sessions,
    make_sessionize_processor,
    merge_adjacent_sessions,
    read_open_state,
    sessionize_batch,
)

GAP = 100  # us — tiny synthetic clock
SCHEMA = "user_id long, ts_us long"

# three users; user 1's second session and user 2's only session SPAN
# the slice boundaries below, so the cross-batch state merge must fire
ROWS = [
    (1, 0), (1, 50), (1, 90),          # slice A: u1 session 1
    (1, 400), (1, 480),                # slice A: u1 session 2 starts
    (2, 450),                          # slice A: u2 session starts
    (1, 530), (2, 500),                # slice B: both continue (gap<=100)
    (1, 900),                          # slice B: u1 session 3
    (3, 910),                          # slice B: u3 appears
    (1, 980), (3, 950),                # slice C: u1 s3 + u3 continue
    (2, 2000),                         # slice C: u2 session 2
]
SLICES = ((0, 490), (490, 940), (940, 10_000))


def _write_slices(spark, tmp_path) -> str:
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base = time.time() - 500
    for i, (a, b) in enumerate(SLICES):
        rows = [r for r in ROWS if a <= r[1] < b]
        d = str(tmp_path / f"s{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(d)
        (part,) = glob.glob(f"{d}/part-*.parquet")
        dst = f"{in_dir}/slice{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))
    return in_dir


def _run(spark, tmp_path):
    paths = {
        "store": str(tmp_path / "store"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    replay_files(
        spark,
        make_sessionize_processor(
            spark, store_root=paths["store"], gap_us=GAP
        ),
        data_root=_write_slices(spark, tmp_path),
        schema=SCHEMA,
        checkpoint=paths["ckpt"],
    )
    return paths


def test_multi_batch_stream_equals_batch(spark, tmp_path):
    paths = _run(spark, tmp_path)
    streamed = final_sessions(spark, store_root=paths["store"])
    batch = sessionize_batch(
        spark.createDataFrame(ROWS, SCHEMA), gap_us=GAP
    )
    key = lambda r: (r.user_id, r.start_us, r.end_us, r.n_events)  # noqa: E731
    assert sorted(map(key, streamed.collect())) == sorted(
        map(key, batch.collect())
    )
    # sanity on the fixture itself: boundary-spanning sessions exist,
    # i.e. naive per-slice sessionization would produce MORE sessions
    per_slice = sum(
        sessionize_batch(
            spark.createDataFrame(
                [r for r in ROWS if a <= r[1] < b], SCHEMA
            ),
            gap_us=GAP,
        ).count()
        for a, b in SLICES
    )
    assert per_slice > batch.count()


def test_three_micro_batches_ran_and_state_is_bounded(spark, tmp_path):
    paths = _run(spark, tmp_path)
    # versions are epoch-keyed; the current + retry-safety previous
    # keep their open-state partition, older versions are pruned down
    # to closed-only stubs (append-only history the flush reads)
    n = len(SLICES)
    with_open = sorted(
        d
        for d in os.listdir(paths["store"])
        if d.startswith("v")
        and os.path.isdir(os.path.join(paths["store"], d, "kind=open"))
    )
    assert with_open == [f"v{n - 2}", f"v{n - 1}"]
    state = read_open_state(spark, paths["store"])
    # exactly one open session per user active in the final picture
    assert state.groupBy("user_id").count().agg(F.max("count")).first()[0] == 1


def test_epoch_retry_is_idempotent(spark, tmp_path):
    """Redelivering the final micro-batch (same epoch id) must leave
    the closed table and the state byte-for-byte equivalent — the
    effectively-exactly-once contract of the epoch-keyed sinks."""
    from hha_spark.streaming.sessionize import make_sessionize_processor

    paths = _run(spark, tmp_path)
    key = lambda r: (r.user_id, r.start_us, r.end_us, r.n_events)  # noqa: E731
    before = sorted(
        map(
            key,
            final_sessions(spark, store_root=paths["store"]).collect(),
        )
    )
    proc = make_sessionize_processor(
        spark,
        store_root=paths["store"],
        gap_us=GAP,
    )
    a, b = SLICES[-1]
    last = [r for r in ROWS if a <= r[1] < b]
    proc(spark.createDataFrame(last, SCHEMA), len(SLICES) - 1)
    after = sorted(
        map(
            key,
            final_sessions(spark, store_root=paths["store"]).collect(),
        )
    )
    assert before == after


def test_merge_adjacent_sessions_semantics(spark):
    sessions = spark.createDataFrame(
        [
            (1, 0, 90, 3),      # fuses with the next (gap 10 <= 100)
            (1, 100, 200, 2),
            (1, 500, 600, 1),   # gap 300 > 100 -> stays separate
            (2, 0, 10, 1),      # other user untouched
        ],
        "user_id long, start_us long, end_us long, n_events long",
    )
    got = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in merge_adjacent_sessions(sessions, gap_us=GAP).collect()
    }
    assert got == {(1, 0, 200, 5), (1, 500, 600, 1), (2, 0, 10, 1)}


def test_empty_state_and_absent_closed(spark, tmp_path):
    # final_sessions before any stream ran: empty frame, right schema
    out = final_sessions(spark, store_root=str(tmp_path / "nope_store"))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "user_id", "start_us", "end_us", "n_events",
    ]


# --- bounded-disorder variant -----------------------------------------
# same sessions as ROWS plus user 4, whose early event (4, 80) is
# delivered TWO batches of progress late (lateness 520 vs the file max
# 600 already seen) — the case the ordered processor gets wrong
ROWS_D = ROWS + [(4, 0), (4, 80), (4, 600)]
DIS_W = 520  # disorder bound: max lateness below goes exactly to 520
# delivery: (2,450) arrives one file late (lateness 150), (4,80)
# arrives late by 520, (3,950)/(1,980) in order
DIS_FILES = [
    [(1, 0), (1, 50), (1, 90), (1, 400), (1, 480), (4, 0), (4, 600)],
    [(2, 450), (1, 530), (2, 500), (1, 900), (3, 910), (4, 80)],
    [(1, 980), (3, 950), (2, 2000)],
]


def _write_disorder_files(spark, tmp_path) -> str:
    in_dir = str(tmp_path / "din")
    os.makedirs(in_dir)
    base = time.time() - 500
    for i, rows in enumerate(DIS_FILES):
        d = str(tmp_path / f"ds{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(d)
        (part,) = glob.glob(f"{d}/part-*.parquet")
        dst = f"{in_dir}/slice{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))
    return in_dir


def _disorder_paths(tmp_path):
    return {
        "store": str(tmp_path / "dstore"),
        "ckpt": str(tmp_path / "dckpt"),
    }


def _run_disorder(spark, tmp_path):
    from hha_spark.streaming.sessionize import (
        make_disorder_sessionize_processor,
    )

    paths = _disorder_paths(tmp_path)
    replay_files(
        spark,
        make_disorder_sessionize_processor(
            spark, store_root=paths["store"], gap_us=GAP, disorder_us=DIS_W
        ),
        data_root=_write_disorder_files(spark, tmp_path),
        schema=SCHEMA,
        checkpoint=paths["ckpt"],
    )
    return paths


def _session_key(r):
    return (r.user_id, r.start_us, r.end_us, r.n_events)


def test_disorder_fixture_is_genuinely_out_of_order():
    """Bounded-disorder sanity on the fixture itself: arrivals dip
    below the running max (real disorder) but never below max - W
    (the contract the processor needs)."""
    max_seen = None
    dipped = False
    for rows in DIS_FILES:
        if max_seen is not None:
            lo = min(ts for _, ts in rows)
            dipped = dipped or lo < max_seen
            assert lo >= max_seen - DIS_W
        mx = max(ts for _, ts in rows)
        max_seen = mx if max_seen is None else max(max_seen, mx)
    assert dipped, "fixture must actually violate arrival order"


def test_disorder_stream_equals_batch(spark, tmp_path):
    from hha_spark.streaming.sessionize import final_sessions_disorder

    paths = _run_disorder(spark, tmp_path)
    streamed = final_sessions_disorder(
        spark,
        store_root=paths["store"],
        gap_us=GAP,
    )
    batch = sessionize_batch(
        spark.createDataFrame(ROWS_D, SCHEMA), gap_us=GAP
    )
    assert sorted(map(_session_key, streamed.collect())) == sorted(
        map(_session_key, batch.collect())
    )
    # the machinery worked for its living: sessions closed mid-stream
    # (watermark passed them) AND events sat in the buffer
    from hha_spark.streaming.sessionize import (
        _STORE_SCHEMA,
        _read_versioned,
        read_closed_sessions,
    )

    assert read_closed_sessions(spark, paths["store"]).count() > 0
    store = _read_versioned(spark, paths["store"], _STORE_SCHEMA)
    assert store.where("kind = 'buf'").count() > 0  # events sat in the buffer


def test_ordered_processor_is_wrong_on_disordered_delivery(spark, tmp_path):
    """The ordered sessionizer on the SAME late-delivery files closes
    user 4's first session before (4, 80) arrives and splits it — the
    exact failure the watermark buffer exists to prevent. Pinning the
    difference proves the disorder gate is not vacuously green."""
    paths = {
        "store": str(tmp_path / "ostore"),
        "ckpt": str(tmp_path / "ockpt"),
    }
    replay_files(
        spark,
        make_sessionize_processor(
            spark, store_root=paths["store"], gap_us=GAP
        ),
        data_root=_write_disorder_files(spark, tmp_path),
        schema=SCHEMA,
        checkpoint=paths["ckpt"],
    )
    ordered = sorted(
        map(
            _session_key,
            final_sessions(spark, store_root=paths["store"]).collect(),
        )
    )
    batch = sorted(
        map(
            _session_key,
            sessionize_batch(
                spark.createDataFrame(ROWS_D, SCHEMA), gap_us=GAP
            ).collect(),
        )
    )
    assert ordered != batch
    # specifically: user 4's (0, 80) session is split in two
    u4_ordered = [k for k in ordered if k[0] == 4]
    u4_batch = [k for k in batch if k[0] == 4]
    assert (4, 0, 80, 2) in u4_batch and (4, 0, 80, 2) not in u4_ordered


def test_disorder_epoch_retry_is_idempotent(spark, tmp_path):
    from hha_spark.streaming.sessionize import (
        final_sessions_disorder,
        make_disorder_sessionize_processor,
    )

    paths = _run_disorder(spark, tmp_path)

    def snapshot():
        return sorted(
            map(
                _session_key,
                final_sessions_disorder(
                    spark,
                    store_root=paths["store"],
                    gap_us=GAP,
                ).collect(),
            )
        )

    before = snapshot()
    proc = make_disorder_sessionize_processor(
        spark,
        store_root=paths["store"],
        gap_us=GAP,
        disorder_us=DIS_W,
    )
    proc(
        spark.createDataFrame(DIS_FILES[-1], SCHEMA), len(DIS_FILES) - 1
    )
    assert snapshot() == before


def test_disorder_restart_from_checkpoint_across_queries(spark, tmp_path):
    """Kill the stream between micro-batches and START A NEW QUERY on
    the same checkpoint: the file source must resume at the right
    offset and the versioned state/buffer must carry across processes,
    so the final result still equals one-shot batch sessionization.
    This is the recovery contract a real deployment leans on — the
    epoch-retry test covers redelivery WITHIN a process; this covers
    the restart WITH a fresh StreamingQuery."""
    from hha_spark.streaming.sessionize import (
        final_sessions_disorder,
        make_disorder_sessionize_processor,
    )

    in_dir = str(tmp_path / "din")
    os.makedirs(in_dir)
    base = time.time() - 500

    def write_file(i):
        d = str(tmp_path / f"ds{i}")
        spark.createDataFrame(DIS_FILES[i], SCHEMA).coalesce(1).write.parquet(d)
        (part,) = glob.glob(f"{d}/part-*.parquet")
        dst = f"{in_dir}/slice{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))

    paths = _disorder_paths(tmp_path)

    def start():
        replay_files(
            spark,
            make_disorder_sessionize_processor(
                spark,
                store_root=paths["store"],
                gap_us=GAP,
                disorder_us=DIS_W,
            ),
            data_root=in_dir,
            schema=SCHEMA,
            checkpoint=paths["ckpt"],
        )

    # first incarnation sees only files 0 and 1, drains them, dies
    write_file(0)
    write_file(1)
    start()
    mid_versions = {
        d for d in os.listdir(paths["store"]) if d.startswith("v")
    }

    # file 2 lands while the process is down; a NEW query on the same
    # checkpoint must pick up exactly there (epoch 2), not reprocess
    write_file(2)
    start()
    assert "v2" in set(os.listdir(paths["store"]))
    assert "v2" not in mid_versions  # epoch 2 ran in the second query

    streamed = sorted(
        map(
            _session_key,
            final_sessions_disorder(
                spark,
                store_root=paths["store"],
                gap_us=GAP,
            ).collect(),
        )
    )
    batch = sorted(
        map(
            _session_key,
            sessionize_batch(
                spark.createDataFrame(ROWS_D, SCHEMA), gap_us=GAP
            ).collect(),
        )
    )
    assert streamed == batch


# --- property: random bounded-disorder delivery == batch -------------------

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PROP_W = 300  # disorder bound for the property

_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # user_id
        st.integers(min_value=0, max_value=1500),   # ts_us
    ),
    min_size=1,
    max_size=10,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_disorder_processor_matches_batch_on_random_delivery(spark, data):
    """For ANY event set, ANY arrival order within the disorder bound
    (arrival key = ts + jitter in [0, W] implies every arrival's ts >=
    max_seen - W), and ANY split of that arrival sequence into
    micro-batches (empty batches allowed), the processor chain plus
    the end-of-stream flush equals one-shot batch sessionization.
    The fixture tests pin specific topologies; this pins the
    CONTRACT."""
    from hha_spark.streaming.sessionize import (
        final_sessions_disorder,
        make_disorder_sessionize_processor,
    )

    events = data.draw(_events_strategy)
    jitter = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=_PROP_W),
            min_size=len(events),
            max_size=len(events),
        )
    )
    arrival = [
        e
        for _, e in sorted(
            enumerate(events), key=lambda p: (p[1][1] + jitter[p[0]], p[0])
        )
    ]
    n_batches = data.draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(arrival)),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    bounds = [0, *cuts, len(arrival)]
    batches = [arrival[a:b] for a, b in zip(bounds, bounds[1:])]

    tmp = tempfile.mkdtemp(prefix="hha_prop_sessdis_")
    try:
        proc = make_disorder_sessionize_processor(
            spark,
            store_root=f"{tmp}/store",
            gap_us=GAP,
            disorder_us=_PROP_W,
        )
        for epoch, chunk in enumerate(batches):
            proc(spark.createDataFrame(chunk, SCHEMA), epoch)
        streamed = sorted(
            map(
                _session_key,
                final_sessions_disorder(
                    spark,
                    store_root=f"{tmp}/store",
                    gap_us=GAP,
                ).collect(),
            )
        )
        batch = sorted(
            map(
                _session_key,
                sessionize_batch(
                    spark.createDataFrame(events, SCHEMA), gap_us=GAP
                ).collect(),
            )
        )
        assert streamed == batch
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_slice_writers_tolerate_empty_time_bands(spark, tmp_path):
    """All events sharing one timestamp collapse every band but the
    first to zero rows; both gate slice writers must still emit one
    (schema-only) file per band so the replay sees empty micro-batches
    instead of crashing — the behavior the per-slice coalesce(1)
    writer provided before the one-pass rewrite."""
    from hha_spark.queries.streaming_gate import (
        _write_disorder_slices,
        _write_time_slices,
    )

    ev = spark.createDataFrame([(1, 500), (2, 500), (1, 500)], SCHEMA)
    for writer, sub in (
        (lambda e, t: _write_time_slices(e, t, 3), "ord"),
        (lambda e, t: _write_disorder_slices(e, t, 3, 100), "dis"),
    ):
        out = writer(ev, str(tmp_path / sub))
        files = sorted(os.listdir(out))
        assert files == ["slice0.parquet", "slice1.parquet", "slice2.parquet"]
        total = sum(
            spark.read.schema(SCHEMA).parquet(f"{out}/{f}").count()
            for f in files
        )
        assert total == 3
        # empty files still carry the schema the stream reader needs
        empty = spark.read.schema(SCHEMA).parquet(f"{out}/slice2.parquet")
        assert [f.name for f in empty.schema.fields] == ["user_id", "ts_us"]
        assert empty.count() == 0


# --- properties: the fused SQL merge == two independent references -------


def _draw_nonested(spark, data):
    """Intervals with no nesting by construction: per user, sorted by
    start with ends forced monotone (overlaps, ties, and gaps all
    occur). None when the draw is empty."""
    rows = []
    for user in (1, 2):
        n = data.draw(st.integers(min_value=0, max_value=5))
        start, prev_end = 0, 0
        for _ in range(n):
            start += data.draw(st.integers(min_value=0, max_value=250))
            delta = data.draw(st.integers(min_value=0, max_value=200))
            end = max(prev_end, start + delta)  # monotone ends
            rows.append((user, start, end, 1 + delta % 3))
            prev_end = end
    if not rows:
        return None
    return spark.createDataFrame(
        rows, "user_id long, start_us long, end_us long, n_events long"
    )


def _fused_merge_rows(spark, df):
    from hha_spark.streaming.sessionize import _MERGE_CTES

    stmt = (
        "WITH _iv AS (SELECT * FROM {iv}),"
        + _MERGE_CTES
        + "SELECT user_id, start_us, end_us, n_events FROM _merged"
    )
    return spark.sql(stmt, args={"gap_us": GAP}, iv=df).collect()


def _column_chain_merge(intervals, *, gap_us):
    """The one-window no-nesting merge written with the DataFrame
    Column API: flag chain openers by the gap to the previous end,
    carry the chain's start and event base as running maxima, and
    keep each chain's closing row. An independent transcription of
    what _MERGE_CTES computes in SQL."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("start_us", "end_us")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x = (
        intervals.withColumn(
            "_new",
            F.when(
                F.lag("end_us").over(w).isNull()
                | (F.col("start_us") - F.lag("end_us").over(w) > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn("_rs", F.sum("n_events").over(run))
        .withColumn(
            "_gstart",
            F.max(F.when(F.col("_new") == 1, F.col("start_us"))).over(run),
        )
        .withColumn(
            "_gbase",
            F.max(
                F.when(F.col("_new") == 1, F.col("_rs") - F.col("n_events"))
            ).over(run),
        )
        .withColumn("_next_new", F.lead("_new").over(w))
    )
    return x.where(
        F.col("_next_new").isNull() | (F.col("_next_new") == 1)
    ).select(
        "user_id",
        F.col("_gstart").alias("start_us"),
        "end_us",
        (F.col("_rs") - F.col("_gbase")).alias("n_events"),
    )


def _key(r):
    return (r.user_id, r.start_us, r.end_us, r.n_events)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_nonested_merge_matches_general_merge(spark, data):
    """_MERGE_CTES (the one-window merge every epoch statement embeds)
    is valid only for inputs with no nested intervals; on that domain
    it must equal merge_adjacent_sessions, the general reference
    implementation, row for row."""
    df = _draw_nonested(spark, data)
    if df is None:
        return
    got = sorted(map(_key, _fused_merge_rows(spark, df)))
    ref = sorted(map(_key, merge_adjacent_sessions(df, gap_us=GAP).collect()))
    assert got == ref


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_fused_merge_sql_matches_column_chain(spark, data):
    """On the no-nesting domain the SQL transcription in _MERGE_CTES
    must equal the same window chain written with the Column API,
    row for row — the merge's window logic checked against a second
    formulation, not only against the groupBy reference."""
    df = _draw_nonested(spark, data)
    if df is None:
        return
    got = sorted(map(_key, _fused_merge_rows(spark, df)))
    ref = sorted(map(_key, _column_chain_merge(df, gap_us=GAP).collect()))
    assert got == ref
