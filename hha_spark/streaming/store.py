"""Maintenance for the versioned kind-partitioned stores — history
compaction.

Every streaming processor in this engine (streaming/sessionize.py,
streaming/joins.py, streaming/curation_stream.py) writes ONE
epoch-keyed version directory per micro-batch: carried state lives
only in the newest version (and, for retry idempotence, the one
below it — _prune_store_versions deletes state kinds everywhere
else), while append-only HISTORY kinds (closed sessions, attribution
pairs, curation docs/bands/edges/raw) survive in every version as
history-only stubs that `read_kind_history` unions at read time.

That union is O(number of epochs) directory listings and parquet
footer reads. At gate scale (2-3 epochs) it is invisible; on a real
deployment a stream that commits an epoch every few seconds produces
tens of thousands of version stubs per day, and every mid-stream
history read (the curation funnel's candidate verification, the
final flushes) pays the whole listing tail. Object stores make it
worse: LIST calls are metered and rate-limited.

`compact_store` bounds that growth: it folds history stubs strictly
below the two newest versions into merged base directories. Minor
mode (the default, and what the processors' compact_every knob runs)
folds only the stubs accumulated since the last fold — amortized
LINEAR total write cost over the stream's life, O(epochs/N) base
dirs; major mode folds the bases too, collapsing the store to at
most three version dirs (base, previous, latest) for a maintenance
window. A store that only ever ran minor folds stays small enough
that reads never again pay one listing per epoch.

Correctness (why readers cannot tell):
  * Future epochs e read `before_epoch=e` with e > latest, i.e. the
    union of everything — folding stubs preserves the union.
  * The only possible retry target is the LATEST epoch (foreachBatch
    commits epochs sequentially, so at most the newest written
    version is checkpoint-uncommitted). Its retry reads state from
    the version below (untouched: the merged base is strictly older)
    and history strictly below itself — again a preserved union.
  * Older retries cannot occur, and the merged base keeps the
    SMALLEST folded epoch number, so every `before_epoch` cut that
    any future or retrying epoch can issue classifies the base
    exactly as it classified the folded stubs.
Compaction therefore commutes with the processors: tests pin that a
mid-stream compact between any two epochs leaves the final flush
equal to the batch pipeline (test_store_compaction.py).

Crash safety (single maintenance writer, same assumption as the
stream itself): the multi-step directory swap is guarded by a marker
protocol —

  1. build  {root}/_compact.staging/kind=*/   (merged history)
  2. write  {root}/_compact.staging/_COMPACTED (json: base, folded)
     -- marker presence == staging is complete --
  3. delete the folded version dirs
  4. rename staging -> v{base}

`recover_compaction` makes any crash point re-runnable: staging
without marker is discarded (nothing was deleted yet); staging with
marker is rolled FORWARD (finish the deletes, finish the rename).
`compact_store` begins by recovering, so a crashed compaction heals
on the next maintenance run; a stream restarting earlier must
recover FIRST, before its initial store read — every make_*_processor
factory over a store does so when it is built. The marker file rides
into the merged dir as an underscore-prefixed file, which parquet
readers ignore, and doubles as compaction provenance.

The staging/marker names start with '_' so `_state_versions`
(v<int> dirs only) and Spark's file index both ignore them.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hha_spark.sources import fs
from hha_spark.streaming.sessionize import _state_versions

_STAGING = "_compact.staging"
_MARKER = "_COMPACTED"

# history kinds per store flavor (the processors' append-only kinds;
# everything else is carried state, pruned to the newest two versions
# by _prune_store_versions and never folded)
SESSIONIZE_HISTORY = ("closed",)
ATTRIBUTION_HISTORY = ("attr",)
CURATION_HISTORY = ("doc", "band", "edge", "raw")


def _kind_dirs(spark: SparkSession, root: str, version: int) -> list[str]:
    return [
        d
        for d in fs.listdir(spark, f"{root}/v{version}")
        if d.startswith("kind=")
    ]


def recover_compaction(spark: SparkSession, store_root: str) -> str:
    """Heal a crashed compact_store run; returns what was done:
    'none' (no staging), 'discarded' (incomplete staging dropped), or
    'completed' (marker found — deletes and rename rolled forward)."""
    staging = f"{store_root}/{_STAGING}"
    marker = f"{staging}/{_MARKER}"
    if not fs.exists(spark, staging):
        return "none"
    if not fs.exists(spark, marker):
        # crash during step 1: nothing was deleted, staging is junk
        fs.delete(spark, staging)
        return "discarded"
    try:
        meta = json.loads(fs.read_text(spark, marker))
        folded = [int(v) for v in meta["folded"]]
        base = int(meta["base"])
    except (ValueError, KeyError, TypeError):
        # torn/malformed marker (unparseable, valid-JSON-but-missing
        # fields like '{}', or wrong field types): the
        # tmp-write-then-rename protocol makes this nearly
        # unreachable, but a corrupt marker must not wedge recovery
        # forever — any malformed marker means the marker write never
        # completed, so no deletes ran and the staging is safely
        # discardable (deletes only start after the marker rename
        # returns). Raising here instead would propagate out of every
        # processor factory's startup recovery and wedge ALL restarts —
        # the exact failure the torn-marker handling exists to stop.
        fs.delete(spark, staging)
        return "discarded"
    for v in folded:
        fs.delete(spark, f"{store_root}/v{v}")
    dst = f"{store_root}/v{base}"
    try:
        _rename_or_raise(spark, staging, dst)
    except OSError:
        # Concurrent completer race: every versioned read rolls a
        # COMPLETE staged fold forward (_heal_staged_fold), so a
        # reader and the maintenance writer can both reach this swap.
        # The loser's rename fails because the winner already moved
        # staging -> v{base}; if staging is gone AND the destination
        # exists, the fold IS complete (by the other party) and
        # raising out of a read path would turn a benign race into a
        # query failure. Anything else (staging still present, or dst
        # missing) is a real filesystem fault — re-raise.
        if fs.exists(spark, staging) or not fs.exists(spark, dst):
            raise
    return "completed"


def _rename_or_raise(spark: SparkSession, src: str, dst: str) -> None:
    """Hadoop FileSystem.rename reports failure by returning false,
    not raising. At swap time the folded dirs are already deleted and
    the staging dir is the ONLY copy of that history — silently
    discarding a failed rename (the next compact_store would then
    delete the staging) would lose it, so a false return must stop
    the world instead; the marker stays in place and
    recover_compaction can finish the swap once the filesystem issue
    is resolved."""
    if not fs.rename(spark, src, dst):
        raise OSError(
            f"compaction rename failed: {src} -> {dst}; if the folded "
            "version dirs were already deleted the staging dir holds "
            "the only copy of that history — resolve the filesystem "
            "issue and rerun recover_compaction (nothing is discarded "
            "while the marker is in place)"
        )


def compact_store(
    spark: SparkSession,
    store_root: str,
    *,
    history_kinds: tuple[str, ...],
    mode: str = "minor",
) -> dict:
    """Fold history versions strictly below the newest two into a
    merged history-only base version (module docstring has the
    reader-equivalence and crash-safety arguments).

    mode='minor' (default) skips versions that are themselves merged
    bases (marked by the provenance file a previous fold left
    behind): each run rewrites only the NEW stubs since the last
    fold, so a stream compacting every N epochs pays amortized-linear
    total write cost and holds O(epochs/N) base dirs — the LSM
    minor-compaction shape. mode='major' folds bases too, collapsing
    the store to at most three dirs — the full rewrite, for
    maintenance windows. Reader equivalence is identical either way:
    every merged dir keeps the SMALLEST folded epoch as its number,
    so any `before_epoch` cut a future or retrying epoch can issue
    classifies it exactly as it classified the folded stubs (all of
    which sit strictly below the cut).

    Returns observability counters: folded version count, base
    number, and any versions skipped for still carrying a kind
    outside `history_kinds`; per-kind row deltas are deliberately NOT
    computed (no jobs beyond the merge writes themselves).

    A foldable version still carrying a non-history kind is SKIPPED,
    not folded and not raised on: it is either a normal crash state
    (the stream died between an epoch's write and its prune, leaving
    stale state in versions[:-2] — the next completed epoch's prune
    clears it and a later fold picks the version up) or a
    misconfigured `history_kinds` (folding or deleting under a wrong
    kind list would corrupt the store, so touching nothing is the
    only safe response). Folding a NON-CONTIGUOUS set around a
    skipped version is still reader-equivalent: every folded epoch
    sits strictly below any cut a future or retrying epoch can
    issue, regardless of gaps.
    """
    if mode not in ("minor", "major"):
        raise ValueError(f"unknown compaction mode {mode!r}")
    recover_compaction(spark, store_root)
    versions = _state_versions(spark, store_root)
    olds = versions[:-2]
    if mode == "minor":
        olds = [
            v
            for v in olds
            if not fs.exists(spark, f"{store_root}/v{v}/{_MARKER}")
        ]
    skipped = [
        v
        for v in olds
        if any(
            d.split("=", 1)[1] not in history_kinds
            for d in _kind_dirs(spark, store_root, v)
        )
    ]
    olds = [v for v in olds if v not in skipped]
    if len(olds) < 2:
        return {"folded": 0, "base": None, "skipped_stateful": skipped}
    base = olds[0]
    staging = f"{store_root}/{_STAGING}"
    fs.delete(spark, staging)

    by_kind: dict[str, list[str]] = {}
    for v in olds:
        for d in _kind_dirs(spark, store_root, v):
            kind = d.split("=", 1)[1]
            by_kind.setdefault(kind, []).append(f"{store_root}/v{v}/{d}")

    # step 1: build the merged staging dirs in ONE schema-inference
    # read plus ONE kind-partitioned write, not a read+write job pair
    # per kind (4 kinds cost 8 jobs ≈ 0.6 s of fixed overhead per
    # fold at gate scale). Every store flavor writes its versions as
    # a single unified-wide frame partitioned by kind, so all kind
    # dirs of a version share one parquet schema and the first dir's
    # inferred schema binds them all; partitionBy("kind") re-emits
    # the same kind=<k> staging layout the per-kind writes produced.
    # coalesce(1) because a folded history stub is bounded by what
    # the stream already materialized once (at larger volumes raise
    # the target partition count, the protocol is unchanged).
    kinds = sorted(by_kind)
    unified_schema = spark.read.parquet(by_kind[kinds[0]][0]).schema
    merged = None
    for kind in kinds:
        frame = spark.read.schema(unified_schema).parquet(
            *by_kind[kind]
        ).selectExpr("*", f"'{kind}' AS kind")
        merged = frame if merged is None else merged.unionByName(frame)
    merged.coalesce(1).write.partitionBy("kind").parquet(staging)
    # step 2: marker — staging is complete from here on. Written to a
    # tmp name and renamed into place: fs.create makes a zero-length
    # file immediately, so a direct write crashed mid-way would leave
    # a torn marker that recovery could mistake for completeness
    fs.write_text(
        spark,
        f"{staging}/{_MARKER}.tmp",
        json.dumps({"base": base, "folded": olds}),
    )
    _rename_or_raise(
        spark, f"{staging}/{_MARKER}.tmp", f"{staging}/{_MARKER}"
    )
    # steps 3-4: swap
    for v in olds:
        fs.delete(spark, f"{store_root}/v{v}")
    _rename_or_raise(spark, staging, f"{store_root}/v{base}")
    return {"folded": len(olds), "base": base, "skipped_stateful": skipped}
