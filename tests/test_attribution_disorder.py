"""Bounded-disorder stream-stream attribution
(streaming/joins.py::make_disorder_attribution_processor): multi-
micro-batch replay with late-delivered events equals the one-shot
batch interval join, a zero-disorder processor on the same delivery
is provably wrong (the gate is not vacuously green), and epoch
redelivery is idempotent."""

from __future__ import annotations

import glob
import os
import shutil
import time

from hha_spark.streaming import replay_files
from hha_spark.streaming.joins import (
    final_attributions,
    make_disorder_attribution_processor,
)

D = 100   # max click->purchase delay
W = 200   # disorder bound

SCHEMA = "user_id long, ts_s long, etype string"

# Batch-truth pairs (user, click_ts, purchase_ts):
#   (1, 0, 80)      both in file 0
#   (2, 650, 700)   both in file 1; (2, 500, 700) misses (delay 200)
#   (1, 960, 1000)  the CLICK is delivered one file AFTER its
#                   purchase, and the purchase sits strictly below
#                   the watermark the (1, 1100) event advances — the
#                   case a zero-disorder processor cannot pair
EXPECTED = {(1, 0, 80), (2, 650, 700), (1, 960, 1000)}

FILES = [
    [(1, 0, "click"), (1, 80, "purchase"), (2, 500, "click")],
    [(2, 650, "click"), (2, 700, "purchase"), (1, 1000, "purchase"),
     (1, 1100, "click")],
    [(1, 960, "click"), (1, 2000, "click")],
]


def test_fixture_is_genuinely_out_of_order_and_admissible():
    max_seen = None
    dipped = False
    for rows in FILES:
        if max_seen is not None:
            lo = min(ts for _, ts, _ in rows)
            dipped = dipped or lo < max_seen
            assert lo >= max_seen - W
        mx = max(ts for _, ts, _ in rows)
        max_seen = mx if max_seen is None else max(max_seen, mx)
    assert dipped, "fixture must actually violate arrival order"


def _write_files(spark, tmp_path) -> str:
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base = time.time() - 500
    for i, rows in enumerate(FILES):
        d = str(tmp_path / f"f{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(d)
        (part,) = glob.glob(f"{d}/part-*.parquet")
        dst = f"{in_dir}/slice{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))
    return in_dir


def _run(spark, tmp_path, *, disorder_sec=W):
    store = str(tmp_path / f"store_w{disorder_sec}")
    replay_files(
        spark,
        make_disorder_attribution_processor(
            spark,
            store_root=store,
            max_delay_sec=D,
            disorder_sec=disorder_sec,
        ),
        data_root=_write_files(spark, tmp_path),
        schema=SCHEMA,
        checkpoint=str(tmp_path / f"ckpt_w{disorder_sec}"),
    )
    return store


def _pairs(spark, store):
    return {
        (r.user_id, r.ts_s, r.ts2_s)
        for r in final_attributions(
            spark, store_root=store, max_delay_sec=D
        ).collect()
    }


def test_disorder_stream_equals_batch_join(spark, tmp_path):
    store = _run(spark, tmp_path)
    assert _pairs(spark, store) == EXPECTED
    # the machinery worked for its living: pairs were emitted
    # mid-stream (not only at the flush) AND events sat in the buffer
    from hha_spark.streaming.joins import (
        _ATTR_PAIR_SCHEMA,
        _ATTR_STORE_SCHEMA,
    )
    from hha_spark.streaming.sessionize import (
        _read_versioned,
        read_kind_history,
    )

    emitted = read_kind_history(
        spark, store, "attr", _ATTR_PAIR_SCHEMA, ("user_id", "ts_s", "ts2_s")
    )
    assert emitted.count() > 0
    assert (
        _read_versioned(spark, store, _ATTR_STORE_SCHEMA)
        .where("kind = 'buf'")
        .count()
        > 0
    )


def test_zero_disorder_processor_is_wrong_on_late_click(spark, tmp_path):
    """With disorder_sec=0 the watermark is the running max, so
    purchase (1, 1000) matures in the epoch where (1, 1100) advances
    the watermark past it — one epoch BEFORE its late click (1, 960)
    arrives — and the pair is lost. The exact failure the buffer
    exists to prevent; pinning the difference proves the disorder
    gate is not vacuously green. (Note ties buffer even at
    disorder_sec=0 — maturity is strictly below the watermark — so
    the purchase needs a later event to advance wm past it.)"""
    store = _run(spark, tmp_path, disorder_sec=0)
    got = _pairs(spark, store)
    assert (1, 960, 1000) not in got
    assert got == EXPECTED - {(1, 960, 1000)}


def test_epoch_retry_is_idempotent(spark, tmp_path):
    store = _run(spark, tmp_path)
    before = _pairs(spark, store)
    proc = make_disorder_attribution_processor(
        spark, store_root=store, max_delay_sec=D, disorder_sec=W
    )
    proc(spark.createDataFrame(FILES[-1], SCHEMA), len(FILES) - 1)
    assert _pairs(spark, store) == before


# --- property: random bounded-disorder delivery == batch join --------------

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PROP_W = 300  # disorder bound for the property

_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),        # user_id
        st.integers(min_value=0, max_value=1500),     # ts_s
        st.sampled_from(["click", "purchase"]),
    ),
    min_size=1,
    max_size=10,
)


def _batch_pairs(events):
    """Reference interval join in plain Python."""
    return sorted(
        (u, c, p)
        for (u, c, et) in events
        if et == "click"
        for (u2, p, et2) in events
        if et2 == "purchase" and u2 == u and c <= p <= c + D
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_disorder_attribution_matches_batch_on_random_delivery(spark, data):
    """For ANY event set, ANY arrival order within the disorder bound
    (arrival key = ts + jitter in [0, W] implies every arrival's ts >=
    max_seen - W), and ANY split of that arrival sequence into
    micro-batches (empty batches allowed), the processor chain plus
    the end-of-stream flush emits exactly the batch interval join —
    multiplicities included (duplicate events are distinct rows on
    both sides). The fixture tests pin specific topologies; this pins
    the CONTRACT."""
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
            enumerate(events), key=lambda x: (x[1][1] + jitter[x[0]], x[0])
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

    tmp = tempfile.mkdtemp(prefix="hha_prop_attrdis_")
    try:
        proc = make_disorder_attribution_processor(
            spark,
            store_root=f"{tmp}/store",
            max_delay_sec=D,
            disorder_sec=_PROP_W,
        )
        for epoch, chunk in enumerate(batches):
            proc(spark.createDataFrame(chunk, SCHEMA), epoch)
        streamed = sorted(
            (r.user_id, r.ts_s, r.ts2_s)
            for r in final_attributions(
                spark, store_root=f"{tmp}/store", max_delay_sec=D
            ).collect()
        )
        assert streamed == _batch_pairs(events)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_watermark_tie_purchase_waits_for_same_ts_click(spark, tmp_path):
    """Round-8 self-review regression pin: a purchase sitting exactly
    ON the watermark (ts == max_seen - W) must buffer, because an
    admissible same-timestamp click (arrival bound ts' >= max_seen -
    W allows ts' == wm) can still arrive a batch later. Maturing the
    tie would finalize the purchase against an empty click state and
    permanently lose the zero-delay pair."""
    store = str(tmp_path / "tie_store")
    proc = make_disorder_attribution_processor(
        spark, store_root=store, max_delay_sec=D, disorder_sec=300
    )
    # epoch 0: wm = 300 - 300 = 0; the purchase at ts 0 ties the
    # watermark and must wait
    proc(
        spark.createDataFrame(
            [(1, 0, "purchase"), (1, 300, "click")], SCHEMA
        ),
        0,
    )
    # epoch 1: the admissible same-timestamp click (0 >= 300 - 300)
    proc(spark.createDataFrame([(1, 0, "click")], SCHEMA), 1)
    assert _pairs(spark, store) == {(1, 0, 0)}
