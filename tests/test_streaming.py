"""M2 tests: streaming detection == batch semantics, replayed through
the file source with a deterministic (injected) clock; cross-batch
TTL dedup; watchlist gating; state-table eviction."""

from __future__ import annotations

import os
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hha_spark.config import DetectorParams
from hha_spark.detector import run_cycle
from hha_spark.operators.spike import detect_spikes
from hha_spark.schemas import HISTOGRAM_SCHEMA, ZONES_SCHEMA
from hha_spark.sources.histograms import write_partitioned
from hha_spark.streaming.spike_stream import (
    evict_expired_hours,
    make_batch_processor,
    run_streaming_detector,
)

P = DetectorParams()
NOW = 1_700_000_000
IP_A = 174327308
IP_B = 174327451


def hist_df(spark, rows):
    return spark.createDataFrame(
        [(ts, 1, np_, tp, cnt, ip) for ts, np_, tp, cnt, ip in rows],
        HISTOGRAM_SCHEMA,
    )


def write_input(spark, path, rows):
    hist_df(spark, rows).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def env(spark, tmp_path):
    paths = {
        "in": str(tmp_path / "stream_in"),
        "state": str(tmp_path / "samples"),
        "alerts": str(tmp_path / "alerts"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(paths["in"], exist_ok=True)
    emitted: list[list[dict]] = []
    yield spark, paths, emitted
    for q in spark.streams.active:
        q.stop()


def start(spark, paths, emitted, *, zones=None, now_fn):
    return run_streaming_detector(
        spark,
        data_root=paths["in"],
        samples_root=paths["state"],
        alerts_path=paths["alerts"],
        checkpoint=paths["ckpt"],
        params=P,
        read_zones=lambda: zones,
        now_fn=now_fn,
        on_rules=emitted.append,
    )


def test_stream_matches_batch(env):
    spark, paths, emitted = env
    rows = (
        [(NOW - 400, 65, 11, 174, IP_B)] * 2      # prev window
        + [(NOW - 10, 65, 11, 961, IP_B)] * 2     # cur spike 961/174 > 3
        + [(NOW - 400, 68, 11, 170, IP_A)] * 2    # flat key
        + [(NOW - 10, 68, 11, 175, IP_A)] * 2
    )
    write_input(spark, paths["in"], rows)
    q = start(spark, paths, emitted, now_fn=lambda: NOW)
    q.processAllAvailable()

    got = {
        (r["num_protocol"], r["type_proto"], r["dst_ip"], r["sum_val"], r["scope"])
        for batch in emitted
        for r in batch
    }
    batch_alerts = {
        (r.num_protocol, r.type_proto, str(__import__("ipaddress").IPv4Address(r.dst_ip)),
         r.sum_val, r.scope)
        for r in detect_spikes(
            hist_df(spark, rows), params=P, now=NOW
        ).collect()
    }
    assert got == batch_alerts
    assert "10.100.6.12" not in {g[2] for g in got}  # flat key (IP_A) silent
    assert any(g[4] == "ip" for g in got)


def test_incremental_batches_and_ttl(env):
    spark, paths, emitted = env
    clock = {"now": NOW}
    q = start(spark, paths, emitted, now_fn=lambda: clock["now"])

    # batch 1: only history -> no alerts
    write_input(spark, paths["in"], [(NOW - 400, 65, 11, 8000, IP_A)] * 2)
    q.processAllAvailable()
    # batch 2: spike arrives -> one /32 alert (30000/8000 > Q)
    clock["now"] = NOW + 10
    write_input(spark, paths["in"], [(NOW + 5, 65, 11, 30000, IP_A)] * 2)
    q.processAllAvailable()
    # batch 3: spike persists -> suppressed by TTL
    clock["now"] = NOW + 20
    write_input(spark, paths["in"], [(NOW + 18, 65, 11, 30000, IP_A)] * 2)
    q.processAllAvailable()

    per_batch = [[r for r in b if r["scope"] == "ip"] for b in emitted]
    counts = [len(b) for b in per_batch]
    assert counts == [0, 1, 0]
    assert per_batch[1][0]["sum_val"] == 8000  # baseline in sum_val slot


def test_stream_watchlist_gating(env):
    spark, paths, emitted = env
    zones = spark.createDataFrame([(IP_A,)], ZONES_SCHEMA)
    rows = (
        [(NOW - 10, 65, 11, 12000, IP_A)] * 2     # new-key alert, watched
        + [(NOW - 10, 68, 11, 12000, IP_B)] * 2   # alert-worthy, not watched
    )
    write_input(spark, paths["in"], rows)
    q = start(spark, paths, emitted, zones=zones, now_fn=lambda: NOW)
    q.processAllAvailable()
    ips = {r["dst_ip"] for b in emitted for r in b}
    assert ips == {"10.100.6.12"}


def test_late_arriving_history_fills_baseline(env):
    """A file with OLD timestamps arriving AFTER newer data must still
    land in the previous window and flip a would-be new-key alert into
    a ratio decision (late-data case from FIXTURES.md §A5)."""
    spark, paths, emitted = env
    clock = {"now": NOW}
    q = start(spark, paths, emitted, now_fn=lambda: clock["now"])

    # current spike arrives FIRST: with no history the key is "new";
    # 6000 < Q*LimitNewData = 7500 -> silent
    write_input(spark, paths["in"], [(NOW - 10, 65, 11, 6000, IP_A)] * 2)
    q.processAllAvailable()
    assert [len(b) for b in emitted] == [0]

    # the history file arrives LATE with prev-window timestamps:
    # baseline becomes 1500, ratio 6000/1500 > 3 -> alert fires now
    clock["now"] = NOW + 10
    write_input(spark, paths["in"], [(NOW - 400, 65, 11, 1500, IP_A)] * 2)
    q.processAllAvailable()
    ip_alerts = [r for b in emitted for r in b if r["scope"] == "ip"]
    assert len(ip_alerts) == 1 and ip_alerts[0]["sum_val"] == 1500


def test_restart_from_checkpoint_no_duplicate_alerts(env):
    """Kill the query after an alert, restart from the same
    checkpoint + state + alerts table: already-processed files are
    not replayed and the persisted TTL still suppresses."""
    spark, paths, emitted = env
    clock = {"now": NOW}
    q = start(spark, paths, emitted, now_fn=lambda: clock["now"])
    write_input(spark, paths["in"], [(NOW - 400, 65, 11, 8000, IP_A)] * 2)
    q.processAllAvailable()
    clock["now"] = NOW + 10
    write_input(spark, paths["in"], [(NOW + 5, 65, 11, 30000, IP_A)] * 2)
    q.processAllAvailable()
    assert sum(len([r for r in b if r["scope"] == "ip"]) for b in emitted) == 1
    q.stop()

    # restart: same checkpoint; a new file with the ongoing spike
    emitted2: list[list[dict]] = []
    clock["now"] = NOW + 30
    q2 = start(spark, paths, emitted2, now_fn=lambda: clock["now"])
    write_input(spark, paths["in"], [(NOW + 28, 65, 11, 30000, IP_A)] * 2)
    q2.processAllAvailable()
    # the old files were not replayed as new alerts, and the alert
    # raised before the restart still suppresses within the TTL
    assert sum(len([r for r in b if r["scope"] == "ip"]) for b in emitted2) == 0
    q2.stop()


def _rule_set(rules):
    return sorted(tuple(sorted(r.items())) for r in rules)


# (num_protocol, type_proto, dst_ip): two /32s of one /24 rollup, and a
# third key on another protocol
KEYS = [(65, 11, IP_A), (65, 11, IP_A + 1), (68, 11, IP_B)]


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(-3 * 3600, 60),
            st.sampled_from(KEYS),
            st.sampled_from([100, 550, 1000, 3500, 8000, 30000]),
        ),
        min_size=1, max_size=12,
    ),
    now_offset=st.integers(0, 3599),
)
@example(
    # rows before the previous hour: the stream once read them (a 2 h
    # retention window) and averaged the baseline to 550, not 1000
    rows=[(-5000, KEYS[0], 100)] * 2 + [(-400, KEYS[0], 1000)] * 2
    + [(-10, KEYS[0], 3500)] * 2,
    now_offset=0,
)
def test_stream_processor_equals_run_cycle(spark, rows, now_offset):
    """A micro-batch of the streaming processor emits exactly the rules
    `run_cycle` emits over the same rows at the same `now`: the two
    read one window, rows stamped before or after it included."""
    now = NOW + now_offset
    hist = [(now + dt, np_, tp, cnt, ip) for dt, (np_, tp, ip), cnt in rows]
    with tempfile.TemporaryDirectory() as tmp:
        emitted: list[list[dict]] = []
        process = make_batch_processor(
            spark, samples_root=f"{tmp}/samples", alerts_path=f"{tmp}/stream_alerts",
            params=P, now_fn=lambda: now, on_rules=emitted.append,
        )
        process(hist_df(spark, hist), 0)
        write_partitioned(hist_df(spark, hist), f"{tmp}/hist")
        batch = run_cycle(
            spark, data_root=f"{tmp}/hist", alerts_path=f"{tmp}/batch_alerts",
            params=P, now=now,
        )
    assert len(emitted) == 1
    assert _rule_set(emitted[0]) == _rule_set(batch)


def test_state_table_eviction(spark, tmp_path):
    root = str(tmp_path / "state")
    rows = [
        (NOW - 5 * 3600, 65, 11, 100, IP_A),   # long expired
        (NOW - 100, 65, 11, 100, IP_A),        # fresh
    ]
    write_partitioned(hist_df(spark, rows), root)
    dropped = evict_expired_hours(root, now=NOW, params=DetectorParams(history_hours=2))
    assert dropped == 1
    remaining = spark.read.parquet(root)
    assert remaining.count() == 1


# --- watermarked tumbling windows (streaming/windowed.py) ------------------

def test_watermarked_windowed_counts_drop_late_rows(env):
    """Append-mode tumbling windows: a window is emitted exactly once
    after the watermark passes its end, and rows arriving later than
    the watermark are dropped — the bounded-lateness contract."""
    from hha_spark.schemas import HISTOGRAM_SCHEMA
    from hha_spark.streaming.windowed import windowed_counts

    spark, paths, _ = env
    t0 = (NOW // 60) * 60  # window-aligned
    stream = (
        spark.readStream.schema(HISTOGRAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(paths["in"])
    )
    agg = windowed_counts(stream, window_sec=60, watermark_sec=60)
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_windows")
        .outputMode("append")
        .start()
    )
    try:
        # batch 1: three rows in window W1 = [t0, t0+60)
        write_input(
            spark, paths["in"],
            [(t0 + 10, 65, 11, 100, IP_A), (t0 + 20, 65, 11, 50, IP_A),
             (t0 + 15, 66, 11, 70, IP_A)],
        )
        q.processAllAvailable()
        # batch 2: advance event time; watermark becomes t0+240 > W1 end
        write_input(spark, paths["in"], [(t0 + 300, 65, 11, 1, IP_A)])
        q.processAllAvailable()
        got = {
            (r.window_start, r.num_protocol, r.n, r.total)
            for r in spark.table("wm_windows").collect()
        }
        assert (t0, 65, 2, 150) in got and (t0, 66, 1, 70) in got
        # the t0+300 window is not finalized yet -> not emitted
        assert all(ws == t0 for ws, *_ in got)

        # batch 3: a LATE row for W1 (event time far behind watermark),
        # plus an advancing row so the next batch runs
        write_input(spark, paths["in"], [(t0 + 5, 65, 11, 999, IP_A)])
        q.processAllAvailable()
        write_input(spark, paths["in"], [(t0 + 400, 65, 11, 1, IP_A)])
        q.processAllAvailable()
        after = {
            (r.window_start, r.num_protocol, r.n, r.total)
            for r in spark.table("wm_windows").collect()
            if r.window_start == t0
        }
        # W1 was emitted once with the on-time rows only; the late 999
        # never surfaces
        assert after == {(t0, 65, 2, 150), (t0, 66, 1, 70)}
    finally:
        q.stop()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join: purchases pair with the clicks
    they follow within the delay bound, emitted exactly once after
    both watermarks close the interval — and the identical builder on
    batch frames returns the same set."""
    from hha_spark.streaming.joins import attribution_join

    t0 = 1_700_000_000
    click_schema = "user_id long, click_id long, click_ts long"
    buy_schema = "user_id long, purchase_id long, purchase_ts long, value double"
    clicks = [
        (1, 101, t0 + 10),     # -> purchase 201
        (1, 102, t0 + 500),    # -> purchase 202 (201 is before it)
        (2, 103, t0 + 20),     # its purchase misses the 3600 s bound
    ]
    buys = [
        (1, 201, t0 + 100, 5.0),   # matches click 101 only
        (1, 202, t0 + 600, 7.0),   # matches clicks 101 AND 102
        (2, 203, t0 + 4000, 9.0),  # 3980 s after click 103 -> dropped
    ]
    # far-future rows push both watermarks past every interval above
    flush_click = [(8, 999, t0 + 100_000)]
    flush_buy = [(9, 998, t0 + 100_000, 0.0)]

    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    spark.createDataFrame(clicks + flush_click, click_schema).coalesce(1) \
        .write.mode("append").parquet(cdir)
    spark.createDataFrame(buys + flush_buy, buy_schema).coalesce(1) \
        .write.mode("append").parquet(bdir)

    cs = spark.readStream.schema(click_schema).parquet(cdir)
    bs = spark.readStream.schema(buy_schema).parquet(bdir)
    q = (
        attribution_join(cs, bs)
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.click_id, r.purchase_id, r.delay_sec)
            for r in spark.table("ssj").collect()
        }
    finally:
        q.stop()
    expect = {(1, 101, 201, 90), (1, 101, 202, 590), (1, 102, 202, 100)}
    assert got == expect

    batch = attribution_join(
        spark.createDataFrame(clicks + flush_click, click_schema),
        spark.createDataFrame(buys + flush_buy, buy_schema),
    )
    got_batch = {
        (r.user_id, r.click_id, r.purchase_id, r.delay_sec)
        for r in batch.collect()
    }
    assert got_batch == expect


def test_streaming_session_windows(spark, tmp_path):
    """Native session_window in a LIVE stream: rows gapped <= the
    session gap merge into one session, a longer gap opens a new one,
    and sessions emit (append mode) only after the watermark passes
    their close — the stateful merge topology batch tests can't cover."""
    t0 = 1_700_000_000
    schema = "user_id long, ts long"
    rows = [
        (1, t0), (1, t0 + 50), (1, t0 + 90),   # one session [t0, t0+150)
        (1, t0 + 400),                          # gap > 60 s -> new session
        (2, t0 + 10),
        (7, t0 + 100_000),                      # watermark flush row
    ]
    d = str(tmp_path / "sess_in")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(schema).parquet(d)
        .withColumn("t", F.timestamp_seconds(F.col("ts")))
        .withWatermark("t", "60 seconds")
    )
    agg = (
        stream.groupBy("user_id", F.session_window("t", "60 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("start_s"),
            F.col("session_window.end").cast("long").alias("end_s"),
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_windows")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.start_s, r.end_s, r.n)
            for r in spark.table("sess_windows").collect()
        }
    finally:
        q.stop()
    assert (1, t0, t0 + 150, 3) in got          # merged triple
    assert (1, t0 + 400, t0 + 460, 1) in got    # reopened session
    assert (2, t0 + 10, t0 + 70, 1) in got
    # the flush row's own session is unclosed -> not emitted
    assert all(u != 7 for u, *_ in got)


def test_hopping_windows_batch_multiplicity(spark):
    """windowed_counts with slide < window: every event lands in
    exactly window/slide epoch-aligned windows (batch mode of the
    same expression tree the stream_events_hopping gate runs)."""
    from hha_spark.streaming.windowed import windowed_counts

    rows = [(100, "a", 7), (100_000, "a", 1), (100_060, "b", 2)]
    df = spark.createDataFrame(rows, "ts long, event_type string, val long")
    out = windowed_counts(
        df,
        time_col="ts",
        key_cols=("event_type",),
        value_col="val",
        window_sec=240,
        watermark_sec=240,
        slide_sec=60,
    ).collect()
    # per-event window membership: 4 windows each
    from collections import defaultdict

    per_event = defaultdict(int)
    for r in out:
        per_event[r.event_type] += r.n
    assert per_event == {"a": 8, "b": 4}
    # epoch alignment: starts are ts - ts%60 - k*60
    starts_a1 = sorted(
        r.window_start for r in out if r.event_type == "a" and r.window_start <= 100
    )
    # ts=100, slide=60: starts ≡ 0 (mod 60) in (100-240, 100]
    assert starts_a1 == [-120, -60, 0, 60]


def test_stream_mixture_equals_batch_across_micro_batches(spark):
    """Additive sufficient statistics merged across >=2 micro-batches
    feed the identical nonlinear readout: stream == batch exactly."""
    from hha_spark.queries.corpus import corpus_temperature_mixture
    from hha_spark.queries.streaming_gate import stream_temperature_mixture

    sf = "/root/testdata/sf0.001"
    seen: list = []
    streamed = stream_temperature_mixture(
        spark, sf, batch_log=seen
    ).toPandas()
    assert len(seen) >= 2, f"expected multi-batch replay, got {seen}"
    batch = corpus_temperature_mixture(spark, sf).toPandas()
    cols = sorted(streamed.columns)
    a = streamed[cols].sort_values("source").reset_index(drop=True)
    b = batch[cols].sort_values("source").reset_index(drop=True)
    assert a.equals(b)


def test_stream_merges_are_idempotent_on_redelivery(spark):
    """A redelivered batch_id must not double-add into driver state:
    calling the merge closure twice with the same id is a no-op the
    second time (the foreachBatch retry contract)."""
    from hha_spark.operators.corpus import mixture_readout, per_source_stats
    from hha_spark.queries.corpus import corpus_temperature_mixture
    from hha_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"

    docs = load_table(spark, sf, "documents")
    state: dict = {}
    applied: set = set()

    def merge(batch_df, batch_id):
        if batch_id in applied:
            return
        for r in per_source_stats(batch_df).collect():
            acc = state.setdefault(r["source"], [0, 0])
            acc[0] += int(r["n_docs"])
            acc[1] += int(r["n_tokens"])
        applied.add(batch_id)

    merge(docs, 0)
    snapshot = {k: list(v) for k, v in state.items()}
    merge(docs, 0)  # redelivery: must be a no-op
    assert state == snapshot
    merged = spark.createDataFrame(
        [(s, v[0], v[1]) for s, v in sorted(state.items())],
        "source string, n_docs long, n_tokens long",
    )
    got = mixture_readout(merged, budget_frac_pct=50).toPandas()
    want = corpus_temperature_mixture(spark, sf).toPandas()
    cols = sorted(got.columns)
    a = got[cols].sort_values("source").reset_index(drop=True)
    b = want[cols].sort_values("source").reset_index(drop=True)
    assert a.equals(b)


def test_gates_leave_the_caller_session_as_it_was(spark):
    """Each streaming gate runs on a session of its own: running gates
    leaves the caller's temp views and its shuffle width, AQE and
    nanosAsLong confs as they were (stream_curation_spilled sets its
    own width 4), and every gate still returns rows, on a frame bound
    to the caller's session."""
    from hha_spark.queries.streaming_gate import (
        stream_attribution_disorder,
        stream_curation_spilled,
        stream_events_windowed,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    )

    def caller_state():
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return views, {k: spark.conf.get(k) for k in keys}

    before = caller_state()
    sf = "/root/testdata/sf0.001"
    for gate in (
        stream_events_windowed,
        stream_events_windowed,
        stream_attribution_disorder,
        stream_curation_spilled,
    ):
        out = gate(spark, sf)
        assert out.sparkSession is spark, gate.__name__
        assert out.collect(), gate.__name__
    assert caller_state() == before
