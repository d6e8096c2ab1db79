"""Host context recorded with every run, so that a reader can tell a
host phase from a code change: the CPU steal fraction over the run and
two fixed probes."""

from __future__ import annotations

import time


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the `cpu` line of /proc/stat;
    (0, 0) where the file does not exist."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def python_probe() -> float:
    """A fixed pure-Python loop, timed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc ^= i * i
    return time.perf_counter() - t0


def spark_probe(spark) -> float:
    """The shape of `bench.py`'s calibration_probe (a hash exchange and a
    two-phase aggregate over `spark.range`), at a tenth of its size."""
    t0 = time.perf_counter()
    (
        spark.range(2_000_000)
        .selectExpr("id % 4096 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum", "*": "count"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0
