"""Reference-parity latency benchmark.

BASELINE.md's operative target: the reference-equivalent
spike-detection query, timed with the same three stage timers the
reference prints (`read` hha.py:312, `materialize` hha.py:157,
`total` hha.py:325), at three fixture scales; total must sit far
under the 10 s cycle budget (hha.conf:26).

Synthesizes histogram tables sized relative to the fixture scales
(rows ~ lineitem rowcounts), written in the partitioned layout, then
runs one full detection cycle each. Prints one JSON line per scale.

    python tools/parity_bench.py [out_dir]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from hha_spark.config import DetectorParams  # noqa: E402
from hha_spark.operators.spike import detect_spikes  # noqa: E402
from hha_spark.session import get_spark  # noqa: E402
from hha_spark.sources.histograms import read_window, write_partitioned  # noqa: E402

NOW = 1_700_000_000
SCALES = {"sf0.001": 6_000, "sf0.01": 60_000, "sf0.1": 600_000}


def synth_histograms(spark, n_rows: int):
    """Deterministic synthetic histogram table: ~1000 hot keys over 4
    /24s, timestamps spread across current window / dead zone /
    previous window, one skewed dst_ip (FIXTURES.md §A1 scenario 7)."""
    return (
        spark.range(n_rows)
        .select(
            (F.lit(NOW) - (F.col("id") % 3600)).alias("timestamp"),
            (F.col("id") % 10).cast("int").alias("subagent_id"),
            (F.col("id") % 97).cast("int").alias("num_protocol"),
            F.element_at(
                F.array(*[F.lit(x) for x in (11, 31, 32, 41, 42)]),
                ((F.col("id") % 5) + 1).cast("int"),
            ).alias("type_proto"),
            # hot skew: ~half the rows hit one destination
            (100 + (F.col("id") % 1900)).alias("CountPkt"),
            F.when(F.col("id") % 2 == 0, F.lit(174327308))
            .otherwise(174327296 + (F.col("id") % 1024))
            .alias("dst_ip"),
        )
    )


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="parity_")
    spark = get_spark("parity_bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm

    params = DetectorParams()
    results = []
    for name, n_rows in SCALES.items():
        root = f"{out_dir}/{name}"
        shutil.rmtree(root, ignore_errors=True)
        write_partitioned(synth_histograms(spark, n_rows), root, mode="overwrite")

        t0 = time.perf_counter()
        hist = read_window(spark, root, upper=NOW + 1)
        n = hist.count()  # forces the pruned scan (≙ reference ReadData timer)
        t_read = time.perf_counter() - t0

        t1 = time.perf_counter()
        alerts = detect_spikes(hist, params=params, now=NOW)
        rows = alerts.count()  # runs the one-pass S1-S7 plan
        t_total_work = time.perf_counter() - t1

        results.append(
            {
                "scale": name,
                "rows": n,
                "alerts": rows,
                "read_sec": round(t_read, 3),
                "materialize_and_compare_sec": round(t_total_work, 3),
                "total_sec": round(t_read + t_total_work, 3),
                "cycle_budget_sec": params.sleep_interval,
            }
        )
        print(json.dumps(results[-1]))
    spark.stop()


if __name__ == "__main__":
    main()
