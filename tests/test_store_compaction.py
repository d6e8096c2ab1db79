"""Versioned-store history compaction (streaming/store.py): folding
old history stubs preserves every reader view (histories, state,
final flushes), commutes with the processors mid-stream, recovers
from a crash at every protocol step, and refuses to fold a version
that still carries unpruned state."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from conftest import gopher_doc_text
from pyspark.sql import functions as F

from hha_spark.caching import release_tracked
from hha_spark.streaming.curation_stream import (
    _CUR_STORE_SCHEMA,
    final_curation_funnel,
    make_curation_funnel_processor,
)
from hha_spark.streaming.sessionize import (
    _read_versioned,
    _state_versions,
    make_sessionize_processor,
    read_closed_sessions,
    read_kind_history,
    read_open_state,
)
from hha_spark.streaming.store import (
    CURATION_HISTORY,
    SESSIONIZE_HISTORY,
    _MARKER,
    _STAGING,
    compact_store,
    recover_compaction,
)

DOC_SCHEMA = "doc_id long, source string, text string"
EV_SCHEMA = "user_id long, ts_us long"


_doc_text = gopher_doc_text


_CURATION_BATCHES = [
    [(1, "a", _doc_text(1)), (2, "a", _doc_text(1))],          # exact dup
    [(3, "b", _doc_text(1, mutate=1)), (4, "b", _doc_text(2))],  # near dup of 1
    [(5, "c", _doc_text(3)), (6, "a", "too short")],            # gopher reject
    [(7, "b", _doc_text(1, mutate=2)), (8, "c", _doc_text(4))],  # near dup of 1
]


def _build_curation_store(spark, root: str, batches=None) -> None:
    proc = make_curation_funnel_processor(spark, store_root=root)
    for epoch, rows in enumerate(batches or _CURATION_BATCHES):
        proc(spark.createDataFrame(rows, DOC_SCHEMA), epoch)


def _curation_view(spark, root: str):
    """Every reader surface of the curation store, as sorted rows."""
    hist = {
        kind: sorted(
            map(
                tuple,
                read_kind_history(
                    spark, root, kind, _CUR_STORE_SCHEMA.replace(
                        ", kind string", ""
                    ),
                    cols,
                ).collect(),
            )
        )
        for kind, cols in (
            ("doc", ("doc_id", "source", "n_tokens", "tokens")),
            ("band", ("doc_id", "band", "key")),
            ("edge", ("doc_id", "doc_id_b", "band", "key")),
            ("raw", ("source", "n")),
        )
    }
    latest = _read_versioned(spark, root, _CUR_STORE_SCHEMA)
    state = {
        kind: sorted(
            map(
                tuple,
                latest.where(F.col("kind") == kind)
                .drop("kind")
                .collect(),
            )
        )
        for kind in ("label", "bcnt")
    }
    flush = sorted(
        map(tuple, final_curation_funnel(spark, store_root=root).collect())
    )
    return hist, state, flush


def test_compaction_preserves_every_curation_reader_view(spark, tmp_path):
    root = str(tmp_path / "store")
    _build_curation_store(spark, root)
    before = _curation_view(spark, root)
    release_tracked()
    res = compact_store(spark, root, history_kinds=CURATION_HISTORY)
    assert res == {"folded": 2, "base": 0, "skipped_stateful": []}
    assert _state_versions(spark, root) == [0, 2, 3]
    # provenance marker rode into the merged base dir
    meta = json.loads(open(f"{root}/v0/{_MARKER}").read())
    assert meta == {"base": 0, "folded": [0, 1]}
    assert _curation_view(spark, root) == before
    # idempotent: nothing left to fold
    assert compact_store(spark, root, history_kinds=CURATION_HISTORY) == {
        "folded": 0,
        "base": None,
        "skipped_stateful": [],
    }


def test_midstream_compaction_commutes_with_processor(spark, tmp_path):
    """Compact between epochs, keep streaming, then retry the final
    epoch: flush still equals the batch pipeline (compaction commutes
    with the processors AND with retry idempotence)."""
    from hha_spark.queries.corpus import curation_funnel

    root = str(tmp_path / "store")
    proc = make_curation_funnel_processor(spark, store_root=root)
    for epoch in (0, 1, 2, 3):
        proc(
            spark.createDataFrame(_CURATION_BATCHES[epoch], DOC_SCHEMA),
            epoch,
        )
    release_tracked()
    assert compact_store(spark, root, history_kinds=CURATION_HISTORY) == {
        "folded": 2,
        "base": 0,
        "skipped_stateful": [],
    }
    extra = [
        [(9, "a", _doc_text(1, mutate=3))],   # near dup across the fold
        [(10, "c", _doc_text(5))],
    ]
    for epoch, rows in enumerate(extra, start=4):
        proc(spark.createDataFrame(rows, DOC_SCHEMA), epoch)
    flush1 = sorted(
        map(tuple, final_curation_funnel(spark, store_root=root).collect())
    )
    all_rows = [r for b in _CURATION_BATCHES + extra for r in b]
    batch = sorted(
        map(
            tuple,
            curation_funnel(
                spark.createDataFrame(all_rows, DOC_SCHEMA)
            ).collect(),
        )
    )
    assert flush1 == batch
    # retry the newest epoch post-compaction: pre-state (v4) and the
    # history below it are exactly what the uncompacted store showed
    release_tracked()
    proc(spark.createDataFrame(extra[-1], DOC_SCHEMA), 5)
    flush2 = sorted(
        map(tuple, final_curation_funnel(spark, store_root=root).collect())
    )
    assert flush2 == batch


def test_compaction_preserves_sessionize_store(spark, tmp_path):
    """Second store flavor: ordered sessionize (kind=closed history +
    kind=open state)."""
    root = str(tmp_path / "store")
    proc = make_sessionize_processor(spark, store_root=root, gap_us=10)
    batches = [
        [(1, 100), (1, 105), (2, 100)],
        [(1, 130), (2, 108)],          # closes 1's first session
        [(3, 200), (1, 160)],
        [(1, 300), (2, 300), (3, 205)],
    ]
    for epoch, rows in enumerate(batches):
        proc(spark.createDataFrame(rows, EV_SCHEMA), epoch)
    closed_before = sorted(
        map(tuple, read_closed_sessions(spark, root).collect())
    )
    open_before = sorted(map(tuple, read_open_state(spark, root).collect()))
    release_tracked()
    assert compact_store(spark, root, history_kinds=SESSIONIZE_HISTORY) == {
        "folded": 2,
        "base": 0,
        "skipped_stateful": [],
    }
    assert _state_versions(spark, root) == [0, 2, 3]
    assert (
        sorted(map(tuple, read_closed_sessions(spark, root).collect()))
        == closed_before
    )
    assert (
        sorted(map(tuple, read_open_state(spark, root).collect()))
        == open_before
    )


def test_compaction_preserves_attribution_store(spark, tmp_path):
    """Third store flavor: the disorder attribution join (kind=attr
    history + click/buf state). Four disorder-delivered epochs,
    compact, flush and history identical."""
    from hha_spark.streaming.joins import (
        final_attributions,
        make_disorder_attribution_processor,
    )
    from hha_spark.streaming.store import ATTRIBUTION_HISTORY

    root = str(tmp_path / "store")
    proc = make_disorder_attribution_processor(
        spark, store_root=root, max_delay_sec=100, disorder_sec=50
    )
    ev_schema = "user_id long, ts_s long, etype string"
    # respects the bounded-disorder contract: every arrival is >=
    # (max ts seen so far) - 50
    batches = [
        [(1, 100, "click"), (2, 110, "click"), (1, 150, "purchase")],
        [(1, 105, "click"), (2, 180, "purchase"), (1, 260, "click")],
        [(2, 300, "click"), (1, 320, "purchase"), (2, 215, "click")],
        [(1, 500, "purchase"), (2, 430, "click"), (1, 560, "click")],
    ]
    for epoch, rows in enumerate(batches):
        proc(spark.createDataFrame(rows, ev_schema), epoch)
    flush_before = sorted(
        map(
            tuple,
            final_attributions(
                spark, store_root=root, max_delay_sec=100
            ).collect(),
        )
    )
    attr_before = sorted(
        map(
            tuple,
            read_kind_history(
                spark, root, "attr",
                "user_id long, ts_s long, ts2_s long",
                ("user_id", "ts_s", "ts2_s"),
            ).collect(),
        )
    )
    assert flush_before and attr_before  # non-vacuous
    release_tracked()
    assert compact_store(
        spark, root, history_kinds=ATTRIBUTION_HISTORY
    ) == {"folded": 2, "base": 0, "skipped_stateful": []}
    assert _state_versions(spark, root) == [0, 2, 3]
    assert (
        sorted(
            map(
                tuple,
                final_attributions(
                    spark, store_root=root, max_delay_sec=100
                ).collect(),
            )
        )
        == flush_before
    )
    assert (
        sorted(
            map(
                tuple,
                read_kind_history(
                    spark, root, "attr",
                    "user_id long, ts_s long, ts2_s long",
                    ("user_id", "ts_s", "ts2_s"),
                ).collect(),
            )
        )
        == attr_before
    )


def test_crash_recovery_every_protocol_step(spark, tmp_path):
    """Deterministic crash states built on disk from a reference run:
    (a) staging without marker -> discarded, store untouched;
    (b) complete staging + marker, olds intact -> rolled forward;
    (c) ...with some olds already deleted -> rolled forward;
    (d) all olds deleted, rename pending -> rolled forward.
    Every recovery yields the same reader views as the clean compact."""
    root = str(tmp_path / "store")
    _build_curation_store(spark, root)
    ref_root = str(tmp_path / "ref")
    shutil.copytree(root, ref_root)
    release_tracked()
    compact_store(spark, ref_root, history_kinds=CURATION_HISTORY)
    release_tracked()
    expect = _curation_view(spark, ref_root)
    # the clean compact's merged base dir IS the staging content
    # (marker included) — reuse it to fabricate crash states
    staged_src = f"{ref_root}/v0"

    def fresh(name: str) -> str:
        r = str(tmp_path / name)
        shutil.copytree(root, r)
        return r

    # (a) crash mid-build: staging exists, marker missing
    r = fresh("crash_a")
    shutil.copytree(staged_src, f"{r}/{_STAGING}")
    os.remove(f"{r}/{_STAGING}/{_MARKER}")
    assert recover_compaction(spark, r) == "discarded"
    release_tracked()
    assert _state_versions(spark, r) == [0, 1, 2, 3]
    assert _curation_view(spark, r) == expect

    # (b) crash after marker, before any delete
    r = fresh("crash_b")
    shutil.copytree(staged_src, f"{r}/{_STAGING}")
    assert recover_compaction(spark, r) == "completed"
    release_tracked()
    assert _state_versions(spark, r) == [0, 2, 3]
    assert _curation_view(spark, r) == expect

    # (c) crash after deleting one old version
    r = fresh("crash_c")
    shutil.copytree(staged_src, f"{r}/{_STAGING}")
    shutil.rmtree(f"{r}/v1")
    assert recover_compaction(spark, r) == "completed"
    release_tracked()
    assert _state_versions(spark, r) == [0, 2, 3]
    assert _curation_view(spark, r) == expect

    # (d) crash after all deletes, rename pending
    r = fresh("crash_d")
    shutil.copytree(staged_src, f"{r}/{_STAGING}")
    shutil.rmtree(f"{r}/v0")
    shutil.rmtree(f"{r}/v1")
    assert recover_compaction(spark, r) == "completed"
    release_tracked()
    assert _state_versions(spark, r) == [0, 2, 3]
    assert _curation_view(spark, r) == expect

    # (e) torn marker (crash mid-marker-write before the tmp rename
    # landed a complete file): unparseable marker == incomplete
    # staging — discarded, store untouched
    r = fresh("crash_torn")
    shutil.copytree(staged_src, f"{r}/{_STAGING}")
    open(f"{r}/{_STAGING}/{_MARKER}", "w").close()
    assert recover_compaction(spark, r) == "discarded"
    release_tracked()
    assert _state_versions(spark, r) == [0, 1, 2, 3]
    assert _curation_view(spark, r) == expect

    # compact_store itself heals a crashed run before starting over
    r = fresh("crash_e")
    shutil.copytree(staged_src, f"{r}/{_STAGING}")
    shutil.rmtree(f"{r}/v0")
    assert compact_store(spark, r, history_kinds=CURATION_HISTORY) == {
        "folded": 0,
        "base": None,
        "skipped_stateful": [],
    }
    release_tracked()
    assert _state_versions(spark, r) == [0, 2, 3]
    assert _curation_view(spark, r) == expect


def test_compact_every_knob_bounds_dirs_and_preserves_funnel(
    spark, tmp_path
):
    """The processor's compact_every knob: six epochs at N=2 fold
    twice, the store ends at three version dirs, and the flush still
    equals the batch pipeline."""
    from hha_spark.queries.corpus import curation_funnel

    batches = _CURATION_BATCHES + [
        [(9, "a", _doc_text(1, mutate=3))],
        [(10, "c", _doc_text(6))],
    ]
    root = str(tmp_path / "store")
    stats: dict = {}
    proc = make_curation_funnel_processor(
        spark, store_root=root, stats=stats, compact_every=2
    )
    for epoch, rows in enumerate(batches):
        proc(spark.createDataFrame(rows, DOC_SCHEMA), epoch)
        release_tracked()
    assert stats.get("compactions") == 2
    # minor folds: epoch 3 folded stubs {0,1} -> base v0; epoch 5
    # folded stubs {2,3} -> base v2 (the earlier base is NOT
    # rewritten — amortized-linear write cost)
    assert _state_versions(spark, root) == [0, 2, 4, 5]
    flush = sorted(
        map(tuple, final_curation_funnel(spark, store_root=root).collect())
    )
    all_rows = [r for b in batches for r in b]
    batch_ref = sorted(
        map(
            tuple,
            curation_funnel(
                spark.createDataFrame(all_rows, DOC_SCHEMA)
            ).collect(),
        )
    )
    assert flush == batch_ref
    # a major fold collapses the accumulated bases to one; every
    # reader surface (including the flush) is unchanged
    release_tracked()
    assert compact_store(
        spark, root, history_kinds=CURATION_HISTORY, mode="major"
    ) == {"folded": 2, "base": 0, "skipped_stateful": []}
    assert _state_versions(spark, root) == [0, 4, 5]
    flush_major = sorted(
        map(tuple, final_curation_funnel(spark, store_root=root).collect())
    )
    assert flush_major == batch_ref


def test_compaction_skips_stateful_stub(spark, tmp_path):
    """A foldable version still carrying a rewritten-state kind (the
    stream crashed between an epoch's write and its prune, or the
    caller passed the wrong kind list) is SKIPPED — never folded,
    never deleted — and reported; the remaining stubs fold normally
    and every reader view is preserved."""
    root = str(tmp_path / "store")
    batches = _CURATION_BATCHES + [[(9, "a", _doc_text(7))]]
    _build_curation_store(spark, root, batches)  # versions 0..4
    # plant a state kind in foldable stub v1 (crash-window shape)
    shutil.copytree(f"{root}/v3/kind=label", f"{root}/v1/kind=label")
    before = _curation_view(spark, root)
    release_tracked()
    assert compact_store(spark, root, history_kinds=CURATION_HISTORY) == {
        "folded": 2,
        "base": 0,
        "skipped_stateful": [1],
    }
    # v1 untouched (stale label plant still there), 0 and 2 folded
    assert _state_versions(spark, root) == [0, 1, 3, 4]
    assert os.path.isdir(f"{root}/v1/kind=label")
    release_tracked()
    assert _curation_view(spark, root) == before


def test_malformed_marker_json_is_discarded_not_raised(spark, tmp_path):
    """A marker that parses as JSON but lacks the base/folded fields
    (e.g. truncated to '{}') is treated exactly like a torn marker:
    staging discarded, store untouched, NO exception — a raise here
    would propagate out of every processor factory's startup recovery and
    wedge all stream restarts (round-9 advisor, store.py:114)."""
    root = str(tmp_path / "store")
    _build_curation_store(spark, root)
    expect = _curation_view(spark, root)
    release_tracked()
    for bad in ("{}", '{"base": 0}', '{"folded": [0, 1]}',
                '{"base": null, "folded": null}', '[]'):
        staging = f"{root}/{_STAGING}"
        os.makedirs(staging, exist_ok=True)
        with open(f"{staging}/{_MARKER}", "w") as fh:
            fh.write(bad)
        assert recover_compaction(spark, root) == "discarded", bad
        assert not os.path.exists(staging)
        assert _state_versions(spark, root) == [0, 1, 2, 3]
    release_tracked()
    assert _curation_view(spark, root) == expect


def test_final_readers_heal_crashed_fold(spark, tmp_path):
    """A consumer that goes straight to a final flush — without first
    building a processor over the store or invoking tools/compact.py —
    must not silently read a store whose folded history lives only in
    _compact.staging (round-9 advisor, curation_stream.py:488). Every
    store read rolls a complete staged fold forward itself."""
    root = str(tmp_path / "store")
    _build_curation_store(spark, root)
    ref_root = str(tmp_path / "ref")
    shutil.copytree(root, ref_root)
    release_tracked()
    compact_store(spark, ref_root, history_kinds=CURATION_HISTORY)
    release_tracked()
    expect = _curation_view(spark, ref_root)

    # worst crash point: olds deleted, rename pending — the folded
    # doc/band/edge/raw history exists ONLY in staging
    r = str(tmp_path / "crash")
    shutil.copytree(root, r)
    shutil.copytree(f"{ref_root}/v0", f"{r}/{_STAGING}")
    shutil.rmtree(f"{r}/v0")
    shutil.rmtree(f"{r}/v1")
    # go STRAIGHT to the readers — no recover_compaction call
    assert _curation_view(spark, r) == expect
    # and the read healed the store on disk
    assert not os.path.exists(f"{r}/{_STAGING}")
    assert _state_versions(spark, r) == [0, 2, 3]
    release_tracked()

    # an INCOMPLETE staging (no marker — mid-build crash or a live
    # maintenance writer) is left alone by readers
    r2 = str(tmp_path / "midbuild")
    shutil.copytree(root, r2)
    shutil.copytree(f"{ref_root}/v0", f"{r2}/{_STAGING}")
    os.remove(f"{r2}/{_STAGING}/{_MARKER}")
    assert _curation_view(spark, r2) == expect
    assert os.path.isdir(f"{r2}/{_STAGING}")
    assert _state_versions(spark, r2) == [0, 1, 2, 3]
    release_tracked()


def test_sessionize_final_reader_heals_crashed_fold(spark, tmp_path):
    """Same healing contract on the sessionize store flavor:
    read_closed_sessions after a crashed fold sees the folded
    kind=closed history without any explicit recovery call."""
    root = str(tmp_path / "store")
    proc = make_sessionize_processor(spark, store_root=root, gap_us=10)
    for epoch, rows in enumerate(
        [[(1, 0), (1, 5)], [(1, 100), (2, 0)], [(1, 300), (2, 500)],
         [(9, 900)]]
    ):
        proc(spark.createDataFrame(rows, EV_SCHEMA), epoch)
    expect = sorted(map(tuple, read_closed_sessions(spark, root).collect()))
    ref_root = str(tmp_path / "ref")
    shutil.copytree(root, ref_root)
    compact_store(spark, ref_root, history_kinds=SESSIONIZE_HISTORY)
    r = str(tmp_path / "crash")
    shutil.copytree(root, r)
    shutil.copytree(f"{ref_root}/v0", f"{r}/{_STAGING}")
    shutil.rmtree(f"{r}/v0")
    shutil.rmtree(f"{r}/v1")
    got = sorted(map(tuple, read_closed_sessions(spark, r).collect()))
    assert got == expect
    assert not os.path.exists(f"{r}/{_STAGING}")


def test_attribution_final_reader_heals_crashed_fold(spark, tmp_path):
    """Healing contract on the third store flavor (the round-9
    advisor named final_attributions explicitly): a crashed fold
    with staging-complete state heals on the final flush itself."""
    from hha_spark.streaming.joins import (
        final_attributions,
        make_disorder_attribution_processor,
    )
    from hha_spark.streaming.store import ATTRIBUTION_HISTORY

    root = str(tmp_path / "store")
    proc = make_disorder_attribution_processor(
        spark, store_root=root, max_delay_sec=100, disorder_sec=50
    )
    ev_schema = "user_id long, ts_s long, etype string"
    batches = [
        [(1, 100, "click"), (2, 110, "click"), (1, 150, "purchase")],
        [(1, 105, "click"), (2, 180, "purchase"), (1, 260, "click")],
        [(2, 300, "click"), (1, 320, "purchase"), (2, 215, "click")],
        [(1, 500, "purchase"), (2, 430, "click"), (1, 560, "click")],
    ]
    for epoch, rows in enumerate(batches):
        proc(spark.createDataFrame(rows, ev_schema), epoch)

    def _flush(r):
        return sorted(
            map(
                tuple,
                final_attributions(
                    spark, store_root=r, max_delay_sec=100
                ).collect(),
            )
        )

    expect = _flush(root)
    assert expect  # non-vacuous
    ref_root = str(tmp_path / "ref")
    shutil.copytree(root, ref_root)
    compact_store(spark, ref_root, history_kinds=ATTRIBUTION_HISTORY)
    # crash point: olds deleted, rename pending — folded attr history
    # exists ONLY in staging
    r = str(tmp_path / "crash")
    shutil.copytree(root, r)
    shutil.copytree(f"{ref_root}/v0", f"{r}/{_STAGING}")
    shutil.rmtree(f"{r}/v0")
    shutil.rmtree(f"{r}/v1")
    assert _flush(r) == expect
    assert not os.path.exists(f"{r}/{_STAGING}")
    assert _state_versions(spark, r) == [0, 2, 3]
