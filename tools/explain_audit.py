"""Plan-snapshot artifact: `.explain("formatted")` for EVERY
registered query, committed under .benchmarks/plans/ so pushdown,
broadcast choices, and codegen spans are reviewable without re-running
anything — and re-committed only when a plan actually changes (files
are rewritten in place; git shows the diff).

    python tools/explain_audit.py [sf_dir] [query_name ...]

Per plan, the global anti-pattern invariants are ASSERTED (exit 1 on
any violation):
  * no CartesianProduct — quadratic the moment a broadcast bound is
    exceeded;
  * no BatchEvalPython — row-at-a-time Python in the hot path (Arrow
    kernels show up as ArrowEvalPython / MapInPandas instead).
(tests/test_plan_audit.py runs the same check in the suite; this tool
additionally persists the human-auditable artifacts.)

Also prints a one-line summary per query (exchanges, joins, scans,
python-eval nodes) — the numbers the scale story rests on.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hha_spark.caching import release_tracked  # noqa: E402
from hha_spark.queries import all_queries  # noqa: E402
from hha_spark.session import get_spark  # noqa: E402

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


def normalize(formatted: str) -> str:
    """Strip run-nondeterministic ids (expression #NNN, plan_id,
    codegen stage ids, cached-plan hex) so a snapshot only diffs when
    the PLAN changes — otherwise every sweep rewrites all 180+ files
    with pure id churn and real regressions drown in noise."""
    s = re.sub(r"#\d+", "#N", formatted)
    s = re.sub(r"plan_id=\d+", "plan_id=N", s)
    s = re.sub(r"codegen id : \d+", "codegen id : N", s)
    s = re.sub(r"0x[0-9a-f]{6,}", "0xN", s)
    # lambda-variable serials and RDD ids are allocated from global
    # counters — they shift whenever an unrelated query runs earlier
    # in the session, which is exactly the cross-sweep churn this
    # normalization exists to suppress.
    s = re.sub(r"lambda ([A-Za-z]+)_\d+", r"lambda \1_N", s)
    s = re.sub(r"RDD\[\d+\]", "RDD[N]", s)
    # subexpression-elimination aliases are numbered from a
    # per-session counter too (observed shifting in round 8)
    s = re.sub(r"_common_expr_\d+", "_common_expr_N", s)
    # repartition(defaultParallelism[, cols]) counts follow the
    # session's local[N], not the pinned shuffle partition count
    s = re.sub(r"RoundRobinPartitioning\(\d+\)", "RoundRobinPartitioning(N)", s)
    s = re.sub(
        r"(hashpartitioning\([^()]*), \d+\), REPARTITION_BY_NUM",
        r"\1, N), REPARTITION_BY_NUM", s,
    )
    return s


def violations(executed_plan: str) -> list[str]:
    """Anti-pattern nodes present in a physical-plan string."""
    return [n for n in FORBIDDEN if n in executed_plan]


def plan_counts(executed_plan: str) -> dict[str, int]:
    return {
        "exchanges": len(re.findall(r"Exchange", executed_plan)),
        "reused": len(re.findall(r"ReusedExchange", executed_plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", executed_plan)),
        "smj": len(re.findall(r"SortMergeJoin", executed_plan)),
        "scans": len(re.findall(r"FileScan", executed_plan)),
        "arrow": len(re.findall(r"MapInPandas|ArrowEvalPython", executed_plan)),
        "row_py": len(re.findall(r"BatchEvalPython", executed_plan)),
    }


def main() -> None:
    sf_dir = "/root/testdata/sf0.001"
    names: list[str] = []
    for a in sys.argv[1:]:
        if os.path.isdir(a):
            sf_dir = a
        else:
            names.append(a)

    # every Exchange line embeds the shuffle partition count
    # (hashpartitioning(..., N)): a fixed count keeps the snapshots
    # independent of the host's core count
    spark = get_spark("explain_audit", shuffle_partitions=32)
    out_dir = os.path.join(".benchmarks", "plans")
    os.makedirs(out_dir, exist_ok=True)
    qs = all_queries()
    if names:
        qs = {n: qs[n] for n in names}
    bad: dict[str, object] = {}
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            formatted = qe.explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            plan = qe.executedPlan().toString()
        except Exception as ex:  # noqa: BLE001 — a query failing to PLAN is a finding
            bad[name] = f"{type(ex).__name__}: {ex}"
            print(f"{name} PLAN-ERROR {bad[name]}", file=sys.stderr)
            continue
        finally:
            release_tracked()
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(normalize(formatted))
        hits = violations(plan)
        if hits:
            bad[name] = hits
        print(name, plan_counts(plan), "VIOLATION" if hits else "")
    spark.stop()
    if bad:
        print(f"AUDIT FAILED: {bad}", file=sys.stderr)
        sys.exit(1)
    print(f"AUDIT OK: {len(qs)} plans snapshotted to {out_dir}")


if __name__ == "__main__":
    main()
