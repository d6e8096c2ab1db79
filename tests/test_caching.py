"""The session-scoped cache contract (hha_spark/caching.py).

Query functions persist intermediates their returned lazy plan reads;
those persists register with the cache registry and the session owner
releases them at cycle boundaries. The assertable invariant: after
release_tracked(), no RDD registered by the library remains pinned.

Queries built on localCheckpoint (the connected-components family)
are exempt by design — checkpoint storage is the result's lineage
root, owned by Spark's ContextCleaner — so the pins asserted here use
only persist-based queries. Because OTHER test files in a shared
session may have built those checkpointing queries (their pins live
until the ContextCleaner GCs them), every assertion is on the NET
delta against the test-start baseline, not an absolute zero.
"""

from __future__ import annotations

import pytest

from hha_spark.caching import (
    pinned_rdd_count,
    release_tracked,
    track,
    tracked_persist,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _clean_registry(spark):
    release_tracked()
    spark.catalog.clearCache()
    yield
    release_tracked()
    spark.catalog.clearCache()


def test_tracked_persist_registers_and_releases(spark):
    base = pinned_rdd_count(spark)
    df = tracked_persist(spark.range(1000))
    df.count()
    assert pinned_rdd_count(spark) >= 1
    assert release_tracked() == 1
    assert pinned_rdd_count(spark) <= base


def test_track_existing_persist(spark):
    base = pinned_rdd_count(spark)
    df = spark.range(100).persist()
    df.count()
    track(df)
    release_tracked()
    assert pinned_rdd_count(spark) <= base


def test_release_is_idempotent(spark):
    tracked_persist(spark.range(10)).count()
    assert release_tracked() == 1
    assert release_tracked() == 0


@pytest.mark.parametrize(
    "qname",
    [
        # spike_events_alerts dropped its persist (the fused frame has
        # one reader) — no longer a persist-using query
        "spike_events_gated",      # queries/spike_events.py alerts persist
        "dedup_ngram_jaccard",     # dedup.py prefix postings + docs
        "dedup_minhash_recall",    # shared docs frame, two arms
        "corpus_source_overlap",   # operators/corpus.py gram frame
        # doc_top_terms dropped its persist (reuse-after-reduction,
        # commit 4513f9b) — no longer a persist-using query
        "ann_topk_ivf_trained",    # ivf.py final assignment (track())
        "lineitem_price_deciles",  # operators/rank.py local-rank frame
    ],
)
def test_no_pinned_rdds_after_release(spark, qname):
    """Materialize a persist-using query end-to-end, release, assert
    the block manager holds nothing — the VERDICT r3 item 4 contract."""
    import __spark_entry__ as entry

    base = pinned_rdd_count(spark)
    fn = entry.queries()[qname]
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    assert pinned_rdd_count(spark) >= 1, "query no longer persists; update test"
    release_tracked()
    spark.catalog.clearCache()  # backstop parity with bench.force
    assert pinned_rdd_count(spark) <= base
