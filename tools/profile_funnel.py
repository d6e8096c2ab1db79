"""Per-phase wall profile of the streaming-curation gates.

Runs the same fixture each gate uses (md5-interleaved slices of the
sf documents table replayed through the curation funnel processor on
a gate session) with the processor's `stats` timers exposed,
printing the per-phase split —
t_build (driver-side epoch-plan construction: py4j chatter + eager
JVM analysis of every intermediate frame), t_cross_probe (the one
tagged-union probe action), t_closure, t_write, t_prune, t_compact —
plus the end-to-end gate wall. This is the measure-first artifact
behind any per-epoch fixed-cost trim: the r11 cProfile split showed
~8.6 s of a 9.5 s compacted-gate run as socket wait on the JVM
across ~4.7k py4j round-trips, and these timers attribute that wait
to construction vs the two actions.

    python tools/profile_funnel.py [sf_dir] [gate ...] [--reps N]

Gates: funnel (2 epochs), compacted (4 epochs + fold/epoch),
spilled (2 epochs, forced label spill).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hha_spark.queries.streaming_gate import (  # noqa: E402
    _docs,
    _gate_session,
    _write_file_slices,
)
from hha_spark.session import get_spark  # noqa: E402
from hha_spark.streaming import replay_files  # noqa: E402


def run_gate(spark, sf_dir: str, gate: str) -> dict:
    from hha_spark.operators.sketch import md5_mod
    from hha_spark.queries.corpus import BUDGET_PCT, FILL_SALT
    from hha_spark.streaming.curation_stream import (
        final_curation_funnel,
        make_curation_funnel_processor,
    )

    stats: dict = {}
    t_all = time.monotonic()
    with _gate_session(spark, "hha_prof_cur_", partitions="4") as (gs, tmp):
        docs = _docs(gs, sf_dir).select("doc_id", "source", "text")
        if gate == "compacted":
            slice_col = F.least(
                md5_mod("curslice|", F.col("doc_id").cast("string"), 8),
                F.lit(3),
            )
            n_slices, per_trigger = 4, 1
            kw = {"compact_every": 1}
        else:
            slice_col = md5_mod(
                "curslice|", F.col("doc_id").cast("string"), 3
            )
            n_slices, per_trigger = 3, 2
            kw = {"label_spill_rows": 0} if gate == "spilled" else {}
        in_dir = _write_file_slices(docs, slice_col, tmp, n_slices)
        t_setup = time.monotonic() - t_all
        t0 = time.monotonic()
        replay_files(
            gs,
            make_curation_funnel_processor(
                gs, store_root=f"{tmp}/store", stats=stats, **kw
            ),
            data_root=in_dir,
            schema="doc_id long, source string, text string",
            checkpoint=f"{tmp}/ckpt",
            max_files_per_trigger=per_trigger,
        )
        t_stream = time.monotonic() - t0
        t0 = time.monotonic()
        out = final_curation_funnel(
            gs,
            store_root=f"{tmp}/store",
            budget_frac_pct=BUDGET_PCT,
            salt=FILL_SALT,
        )
        rows = out.collect()
        t_flush = time.monotonic() - t0
    stats.update(
        gate=gate,
        t_setup=round(t_setup, 3),
        t_stream=round(t_stream, 3),
        t_flush=round(t_flush, 3),
        t_total=round(time.monotonic() - t_all, 3),
        n_rows=len(rows),
    )
    return stats


def main() -> None:
    argv = sys.argv[1:]
    args: list[str] = []
    reps = 1
    i = 0
    while i < len(argv):  # accepts --reps=N and --reps N (ADVICE r11)
        a = argv[i]
        if a.startswith("--reps"):
            if "=" in a:
                reps = int(a.split("=", 1)[1])
            else:
                i += 1
                reps = int(argv[i])
        else:
            args.append(a)
        i += 1
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    gates = args[1:] or ["funnel", "compacted", "spilled"]
    spark = get_spark("hha_profile_funnel")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM
    for rep in range(reps):
        for gate in gates:
            s = run_gate(spark, sf_dir, gate)
            phases = {
                k: round(v, 3)
                for k, v in s.items()
                if isinstance(v, float) and k.startswith("t_")
            }
            counters = {
                k: v for k, v in s.items() if isinstance(v, int)
            }
            print(f"rep{rep} {gate}: {phases} {counters}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
