"""Incremental streaming curation funnel
(streaming/curation_stream.py): multi-micro-batch replay equals the
batch curation pipeline for arbitrary (unordered) document splits,
the bucket-cap reconciliation actually revokes edges when a bucket
crosses the cap mid-stream, cross-batch cluster merges retroactively
drop a keeper, and a redelivered epoch rewrites the same store."""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from conftest import gopher_doc_text

from hha_spark.streaming import replay_files
from hha_spark.streaming.curation_stream import (
    _CUR_STORE_SCHEMA,
    _EDGE_SCHEMA,
    _K_EDGE,
    _K_LABEL,
    _read_versioned,
    final_curation_funnel,
    make_curation_funnel_processor,
    read_kind_history,
)

SCHEMA = "doc_id long, source string, text string"


_doc_text = gopher_doc_text


def _write_batches(spark, tmp_path, batches) -> str:
    """One parquet file per batch, mtime-ordered for the file source."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base = time.time() - 500
    for i, rows in enumerate(batches):
        d = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(d)
        (part,) = glob.glob(f"{d}/part-*.parquet")
        dst = f"{in_dir}/batch{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))
    return in_dir


def _run_stream(
    spark, tmp_path, batches, *, max_bucket=None, stats=None,
    label_spill_rows=None,
):
    in_dir = _write_batches(spark, tmp_path, batches)
    replay_files(
        spark,
        make_curation_funnel_processor(
            spark,
            store_root=str(tmp_path / "store"),
            max_bucket=max_bucket,
            stats=stats,
            label_spill_rows=label_spill_rows,
        ),
        data_root=in_dir,
        schema=SCHEMA,
        checkpoint=str(tmp_path / "ckpt"),
    )
    return str(tmp_path / "store")


def _rollup(df):
    return sorted(map(tuple, df.collect()))


def test_stream_equals_batch_pipeline(spark, tmp_path):
    """Arbitrary unordered split of a corpus with exact dups, near
    dups, cross-batch pairs, and gopher rejects == the batch funnel.
    Cluster {1, 2, 9} spans both batches: member 2 arrives in batch 0,
    keeper 1 (the min id) and near-dup 9 in batch 1 — so the keeper
    arrives AFTER a member it must claim."""
    from hha_spark.queries.corpus import curation_funnel

    rows = [
        (1, "a", _doc_text(100)),            # keeper of cluster A
        (2, "a", _doc_text(100)),            # exact dup of 1 (batch 0)
        (9, "b", _doc_text(100, mutate=1)),  # near dup of 1 (batch 1)
        (3, "a", _doc_text(200)),            # unique
        (4, "b", _doc_text(300)),            # unique
        (5, "b", "short doc"),               # gopher reject (too short)
        (6, "c", _doc_text(400)),            # unique, own source
    ]
    # unordered split: ids interleave across batches
    batches = [
        [rows[1], rows[3], rows[5]],   # 2, 3, 5
        [rows[0], rows[2], rows[4], rows[6]],  # 1, 9, 4, 6
    ]
    store = _run_stream(spark, tmp_path, batches)
    streamed = _rollup(final_curation_funnel(spark, store_root=store))
    batch = _rollup(curation_funnel(spark.createDataFrame(rows, SCHEMA)))
    assert streamed == batch
    # the cluster genuinely spans batches: doc 2 (batch 0) and doc 9
    # (batch 1) both resolve to keeper 1 (batch 1!) — the keeper
    # itself arrived AFTER a member, so no arrival-order shortcut
    # could have produced these labels
    labels = {
        (r.doc_id, r.label)
        for r in _read_versioned(spark, store, _CUR_STORE_SCHEMA)
        .where(F.col("kind") == _K_LABEL)
        .select("doc_id", "label")
        .collect()
    }
    assert (2, 1) in labels and (9, 1) in labels


def test_cross_batch_cluster_merge_retroactively_drops_keeper(
    spark, tmp_path
):
    """Two separate clusters form in batch 0; a bridging doc in batch
    1 is a near-dup of BOTH, merging them — so the second cluster's
    keeper is RETROACTIVELY demoted to a member. A first-arrival-wins
    ingest pipeline can never revisit that decision; maintaining the
    labels as a closure is what makes it possible."""
    from hha_spark.queries.corpus import curation_funnel

    # tx and ty share 28/40 tokens: j(tx, ty) = 28/52 = 0.54 < 0.7,
    # so X and Y are NOT near-dups of each other. The bridge sits
    # halfway (6 of the 12 differing tokens from each side):
    # j(bridge, tx) = j(bridge, ty) = 34/46 = 0.739 >= 0.7.
    tx = [f"t{i}" for i in range(40)]
    ty = tx[:28] + [f"u{i}" for i in range(12)]
    bridge = tx[:28] + tx[28:34] + ty[34:]
    rows0 = [
        (10, "a", " ".join(tx)),
        (11, "a", " ".join(tx)),   # cluster X = {10, 11}, keeper 10
        (20, "b", " ".join(ty)),
        (21, "b", " ".join(ty)),   # cluster Y = {20, 21}, keeper 20
    ]
    rows1 = [(15, "b", " ".join(bridge))]  # merges X and Y
    store = _run_stream(spark, tmp_path, [rows0, rows1])
    streamed = _rollup(final_curation_funnel(spark, store_root=store))
    batch = _rollup(
        curation_funnel(spark.createDataFrame(rows0 + rows1, SCHEMA))
    )
    assert streamed == batch
    labels = {
        (r.doc_id, r.label)
        for r in _read_versioned(spark, store, _CUR_STORE_SCHEMA)
        .where(F.col("kind") == _K_LABEL)
        .select("doc_id", "label")
        .collect()
    }
    # keeper 20 was demoted: the whole merged cluster labels to 10
    assert (20, 10) in labels and (21, 10) in labels and (15, 10) in labels


def test_cap_crossing_revokes_early_edges(spark, tmp_path):
    """A bucket under the cap at epoch 0 (pair emitted, cluster
    formed) crosses it at epoch 1: the reconciliation recompute must
    fire and revoke the early edge, matching the batch semantics
    where the full-size bucket is template noise and contributes NO
    pairs. Cap=2; three exact dups arriving 2-then-1."""
    dup = _doc_text(500)
    rows0 = [(31, "a", dup), (32, "a", dup)]
    rows1 = [(33, "a", dup)]
    stats: dict = {}
    store = _run_stream(
        spark, tmp_path, [rows0, rows1], max_bucket=2, stats=stats
    )
    assert stats.get("recomputes", 0) >= 1
    # the revoked edge is physically in the epoch-0 history — the
    # scenario is not vacuous
    edges = read_kind_history(
        spark, store, _K_EDGE, _EDGE_SCHEMA,
        ("doc_id", "doc_id_b", "band", "key"),
    ).collect()
    assert any(e.doc_id == 31 and e.doc_id_b == 32 for e in edges)
    # ...but the final labels drop it: all three docs survive, exactly
    # like a single-batch run (= batch semantics) at the same cap
    streamed = _rollup(final_curation_funnel(spark, store_root=store))
    single = _run_stream(
        spark,
        tmp_path.joinpath("single"),
        [rows0 + rows1],
        max_bucket=2,
    )
    assert streamed == _rollup(final_curation_funnel(spark, store_root=single))
    labels = (
        _read_versioned(spark, store, _CUR_STORE_SCHEMA)
        .where(F.col("kind") == _K_LABEL)
        .count()
    )
    assert labels == 0  # no surviving edges -> no clustered docs


def test_random_corpora_random_splits_match_batch(spark, tmp_path):
    """Deterministic randomized differential test: random corpora
    (exact-dup groups, near-dup chains, gopher rejects, uneven
    sources) under random 3-way batch splits — the flush must equal
    the batch funnel on every one. Drives the processors directly
    (no streaming engine) so four corpora stay cheap; the engine
    path is covered by the fixture/gate tests above. Two of the four
    seeds split 5 ways and run a random minor store compaction
    between epochs — compaction must commute with everything the
    processor does, at whatever point it fires."""
    import random

    from hha_spark.caching import release_tracked
    from hha_spark.queries.corpus import curation_funnel
    from hha_spark.streaming.store import CURATION_HISTORY, compact_store

    for seed in (11, 23, 37, 59):
        rng = random.Random(seed)
        compacting = seed in (23, 59)
        rows = []
        next_id = 1
        for g in range(rng.randint(3, 6)):  # dup groups of size 1-4
            base = _doc_text(1000 * seed + g)
            for m in range(rng.randint(1, 4)):
                # half the members are exact dups, half 1-token
                # mutations (jaccard 39/41 >= 0.7)
                toks = base.split(" ")
                if m and rng.random() < 0.5:
                    toks[-1] = f"v{g}m{m}"
                rows.append(
                    (next_id, rng.choice("abc"), " ".join(toks))
                )
                next_id += 1
        for _ in range(rng.randint(1, 3)):  # gopher rejects
            rows.append((next_id, rng.choice("abc"), "too short"))
            next_id += 1
        rng.shuffle(rows)
        n_splits = 5 if compacting else 3
        splits = [[] for _ in range(n_splits)]
        for r in rows:
            splits[rng.randrange(n_splits)].append(r)
        store = str(tmp_path / f"store{seed}")
        proc = make_curation_funnel_processor(spark, store_root=store)
        folds = 0
        for epoch, batch in enumerate(splits):
            if batch:
                proc(spark.createDataFrame(batch, SCHEMA), epoch)
            if compacting and rng.random() < 0.5:
                folds += compact_store(
                    spark, store, history_kinds=CURATION_HISTORY
                )["folded"]
        assert folds > 0 or not compacting, f"seed {seed}: folds vacuous"
        streamed = _rollup(final_curation_funnel(spark, store_root=store))
        batch_ref = _rollup(
            curation_funnel(spark.createDataFrame(rows, SCHEMA))
        )
        assert streamed == batch_ref, f"seed {seed}"
        release_tracked()


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """A stopped-and-restarted stream (same checkpoint) must neither
    reprocess consumed files nor break the funnel: run availableNow
    over the first half of the corpus, terminate, land the second
    half, restart — the flush equals the batch pipeline over the
    whole corpus, and epoch numbering continues (distinct store
    versions, no overwrite of committed epochs)."""
    from hha_spark.caching import release_tracked
    from hha_spark.queries.corpus import curation_funnel
    from hha_spark.streaming.sessionize import _state_versions

    rows = [
        (1, "a", _doc_text(800)),
        (2, "a", _doc_text(800)),            # exact dup, same half
        (3, "b", _doc_text(800, mutate=1)),  # near dup, OTHER half
        (4, "b", _doc_text(900)),
        (5, "c", _doc_text(950)),
    ]
    in_dir = _write_batches(spark, tmp_path, [rows[:2], rows[2:4]])
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        replay_files(
            spark,
            make_curation_funnel_processor(spark, store_root=store),
            data_root=in_dir,
            schema=SCHEMA,
            checkpoint=ckpt,
        )

    _run()  # consumes the first two files, then terminates
    v_first = _state_versions(spark, store)
    release_tracked()
    # second half lands after the shutdown
    for i, batch in enumerate([[rows[4]]], start=2):
        d = str(tmp_path / f"late{i}")
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.parquet(d)
        (part,) = glob.glob(f"{d}/part-*.parquet")
        shutil.move(part, f"{in_dir}/batch{i}.parquet")
    _run()  # restart on the same checkpoint
    versions = _state_versions(spark, store)
    # committed epochs were not reprocessed: old versions survive and
    # the restart appended strictly newer epoch ids
    assert versions[: len(v_first)] == v_first
    assert len(versions) == len(v_first) + 1
    streamed = _rollup(final_curation_funnel(spark, store_root=store))
    batch_ref = _rollup(curation_funnel(spark.createDataFrame(rows, SCHEMA)))
    assert streamed == batch_ref


def test_epoch_retry_is_idempotent(spark, tmp_path):
    """Redelivering the final epoch (foreachBatch at-least-once)
    rewrites the same store bytes: the flush is unchanged."""
    from hha_spark.caching import release_tracked

    rows0 = [(1, "a", _doc_text(600)), (2, "a", _doc_text(600))]
    rows1 = [(3, "b", _doc_text(600)), (4, "b", _doc_text(700))]
    store = _run_stream(spark, tmp_path, [rows0, rows1])
    before = _rollup(final_curation_funnel(spark, store_root=store))
    # cycle boundary (caching.py contract): the first flush's tracked
    # persist captured v1's file listing; the retry below rewrites v1
    # in place, so a reader cycle spanning a store rewrite must
    # release its caches — exactly what the session owner does
    # between cycles
    release_tracked()
    proc = make_curation_funnel_processor(spark, store_root=store)
    proc(spark.createDataFrame(rows1, SCHEMA), 1)  # redeliver epoch 1
    after = _rollup(final_curation_funnel(spark, store_root=store))
    assert after == before


def test_label_spill_threshold_cutover(spark, tmp_path):
    """The DEFAULT threshold path: below LABEL_SPILL_ROWS the labels
    ride the plan as a local literal (no spill file), above it they
    take the parquet round-trip — pinned by calling _uf_labels
    directly on either side of a small explicit threshold, values
    identical both ways."""
    from hha_spark.streaming.curation_stream import _uf_labels

    pairs = [(i, i + 1) for i in range(0, 60, 2)]  # 30 tiny chains
    expect = {(u, u) for u, _ in pairs} | {(v, u) for u, v in pairs}

    spill = str(tmp_path / "spill_small")
    stats: dict = {}
    small = _uf_labels(
        spark, pairs, spill_path=spill, stats=stats, label_spill_rows=1000
    )
    assert {tuple(r) for r in small.collect()} == expect
    assert stats.get("label_spills", 0) == 0
    assert not os.path.exists(spill)  # literal path wrote nothing

    spill2 = str(tmp_path / "spill_big")
    stats2: dict = {}
    big = _uf_labels(
        spark, pairs, spill_path=spill2, stats=stats2, label_spill_rows=10
    )
    assert {tuple(r) for r in big.collect()} == expect
    assert stats2.get("label_spills", 0) == 1
    assert glob.glob(f"{spill2}/*.parquet")  # scan-backed, not literal


def test_label_spill_equals_batch(spark, tmp_path):
    """Force the spill threshold to 0 (via the processor's
    `label_spill_rows` parameter — the same plumbing the
    stream_curation_spilled gate uses) so EVERY epoch's
    driver-computed labels take the write-then-read-back spill
    (parquet under store/spill/ instead of a LocalTableScan literal
    in the write job's task binary — the epoch-axis scale fix): the
    flush must equal the batch funnel exactly, the spill counter must
    prove the path ran, and the scratch dir must be cleaned after
    each epoch's write."""
    from hha_spark.queries.corpus import curation_funnel

    rows = [
        (1, "a", _doc_text(100)),
        (2, "a", _doc_text(100)),            # exact dup of 1
        (9, "b", _doc_text(100, mutate=1)),  # near dup of 1 (batch 1)
        (3, "a", _doc_text(200)),
        (4, "b", _doc_text(300)),
        (5, "b", "short doc"),               # gopher reject
        (6, "c", _doc_text(400)),
    ]
    batches = [
        [rows[1], rows[3], rows[5]],
        [rows[0], rows[2], rows[4], rows[6]],
    ]
    stats: dict = {}
    store = _run_stream(
        spark, tmp_path, batches, stats=stats, label_spill_rows=0
    )
    assert stats.get("label_spills", 0) >= 1, stats
    assert stats.get("closure_fallbacks", 0) == 0, stats  # small path
    assert not os.path.exists(f"{store}/spill")  # scratch cleaned
    streamed = _rollup(final_curation_funnel(spark, store_root=store))
    batch = _rollup(curation_funnel(spark.createDataFrame(rows, SCHEMA)))
    assert streamed == batch
    # the spilled labels are durable in the store's label kind and
    # still carry the cross-batch merge (doc 2 from batch 0 and doc 9
    # from batch 1 both resolve to keeper 1)
    labels = {
        (r.doc_id, r.label)
        for r in _read_versioned(spark, store, _CUR_STORE_SCHEMA)
        .where(F.col("kind") == _K_LABEL)
        .select("doc_id", "label")
        .collect()
    }
    assert (2, 1) in labels and (9, 1) in labels


def test_over_envelope_fallback_equals_batch(spark, tmp_path, monkeypatch):
    """Force the mega-probe's envelope down to 1 edge so every epoch
    with real edges takes the DISTRIBUTED fallback (and the closure
    kernel itself, probing with the same patched envelope, takes its
    distributed O(log n) loop): the flush must still equal the batch
    funnel exactly, and the fallback counter must prove the path ran.
    This is the only coverage of the over-envelope branch — the
    production cap (500k edges) is unreachable at fixture scale."""
    from hha_spark.operators import cluster
    from hha_spark.queries.corpus import curation_funnel

    monkeypatch.setattr(cluster, "SMALL_GRAPH_EDGES", 1)
    rows = [
        (1, "a", _doc_text(100)),
        (2, "a", _doc_text(100)),            # exact dup of 1
        (9, "b", _doc_text(100, mutate=1)),  # near dup of 1
        (3, "a", _doc_text(200)),
        (4, "b", _doc_text(300)),
        (5, "b", "short doc"),               # gopher reject
        (6, "c", _doc_text(400)),
    ]
    batches = [
        [rows[1], rows[3], rows[5]],
        [rows[0], rows[2], rows[4], rows[6]],
    ]
    stats: dict = {}
    store = _run_stream(spark, tmp_path, batches, stats=stats)
    assert stats.get("closure_fallbacks", 0) >= 1, stats
    streamed = _rollup(final_curation_funnel(spark, store_root=store))
    batch = _rollup(curation_funnel(spark.createDataFrame(rows, SCHEMA)))
    assert streamed == batch


def test_over_envelope_fallback_on_crossing_epoch(spark, tmp_path, monkeypatch):
    """The cap-crossing recompute path under a forced tiny envelope:
    the edge-history collect overflows, the distributed closure
    rebuilds labels from under-cap provenance, and the flush still
    equals the batch funnel (which drops the over-cap bucket's
    pairs identically)."""
    from hha_spark.operators import cluster
    from hha_spark.queries.corpus import curation_funnel

    monkeypatch.setattr(cluster, "SMALL_GRAPH_EDGES", 1)
    # bucket crossing fixture: max_bucket=2, three near-identical docs
    # arriving 2 then 1 — the third arrival pushes the bucket over the
    # cap mid-stream, revoking the early pair
    rows = [
        (1, "a", _doc_text(100)),
        (2, "a", _doc_text(100, mutate=1)),
        (3, "a", _doc_text(100, mutate=2)),
        (4, "b", _doc_text(200)),
        (5, "b", _doc_text(300)),
    ]
    batches = [[rows[0], rows[1], rows[3]], [rows[2], rows[4]]]
    stats: dict = {}
    store = _run_stream(
        spark, tmp_path, batches, max_bucket=2, stats=stats
    )
    assert stats.get("recomputes", 0) >= 1, stats
    assert stats.get("closure_fallbacks", 0) >= 1, stats

    streamed = _rollup(final_curation_funnel(spark, store_root=store))
    # batch twin with the same cap, computed here from the operators
    # (curation_funnel is cap-fixed at MAX_LSH_BUCKET; the stream
    # processor is the only cap-parameterized entry): under-cap
    # buckets of the FULL corpus -> verified pairs -> min-label
    # union-find. This is hash-geometry robust — it asserts the real
    # invariant (stream labels == batch-capped labels) instead of a
    # hardcoded collision pattern that breaks whenever the minhash
    # kernel changes values.
    from hha_spark.operators.dedup import (
        band_keys,
        minhash_signatures,
        with_token_set,
    )

    docs = with_token_set(spark.createDataFrame(rows, SCHEMA))
    bands = band_keys(minhash_signatures(docs)).collect()
    from collections import Counter, defaultdict

    bucket_n = Counter((r.band, r.key) for r in bands)
    members = defaultdict(list)
    for r in bands:
        if bucket_n[(r.band, r.key)] <= 2:  # the gate's max_bucket
            members[(r.band, r.key)].append(r.doc_id)
    toks = {r.doc_id: set(r.tokens) for r in docs.collect()}
    parent = {d: d for d in toks}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edge_nodes = set()
    for ids in members.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ia, ib = toks[a], toks[b]
                ix = len(ia & ib)
                if 17 * ix >= 7 * (len(ia) + len(ib)):
                    edge_nodes |= {a, b}
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    # a label row exists exactly for docs incident to a verified
    # edge (the union-find kernel labels every edge endpoint)
    batch_labels = {(d, find(d)) for d in edge_nodes}
    stream_labels = {
        (r.doc_id, r.label)
        for r in _read_versioned(spark, store, _CUR_STORE_SCHEMA)
        .where(F.col("kind") == _K_LABEL)
        .select("doc_id", "label")
        .collect()
    }
    assert stream_labels == batch_labels, (stream_labels, batch_labels)
    assert len(streamed) > 0


def test_fused_unified_write_frame_is_exchange_free(spark):
    """The fused _UNIFIED_SQL must keep the round-10 exchange-free
    write shape: each kind branch coalesced to one partition BEFORE
    the union (per-branch COALESCE(1) hints), so partitionBy("kind")
    never repartitions."""
    from hha_spark.functions.local import sql_over_views
    from hha_spark.streaming.curation_stream import _UNIFIED_SQL

    qdocs = spark.sql(
        "SELECT id AS doc_id, 'a' AS source, id AS n_tokens,"
        " array('t') AS tokens FROM range(8)"
    ).repartition(4)
    bands = spark.sql(
        "SELECT id AS doc_id, CAST(id AS INT) AS band,"
        " 'k' AS key FROM range(8)"
    ).repartition(4)
    edges = spark.sql(
        "SELECT id AS doc_id, id + 1 AS doc_id_b,"
        " CAST(id AS INT) AS band, 'k' AS key FROM range(4)"
    ).repartition(4)
    bcnt = spark.sql(
        "SELECT CAST(id AS INT) AS band, 'k' AS key, id AS n"
        " FROM range(4)"
    ).repartition(4)
    labels = spark.sql(
        "SELECT id AS node, id AS label FROM range(4)"
    )
    raw = spark.sql("SELECT 'a' AS source, 4 AS n")
    unified = sql_over_views(
        spark, _UNIFIED_SQL,
        frames={"qdocs": qdocs, "bands_new": bands, "edges": edges,
                "bcnt": bcnt, "labels": labels, "raw": raw},
    )
    plan = unified._jdf.queryExecution().executedPlan().toString()
    # the only exchanges allowed are the fixture repartitions above
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM")
    assert plan.count("Coalesce 1") == 6  # one per kind branch
    cols = [f.name for f in unified.schema.fields]
    assert cols == [
        "doc_id", "doc_id_b", "source", "n_tokens", "tokens",
        "band", "key", "n", "label", "kind",
    ]
