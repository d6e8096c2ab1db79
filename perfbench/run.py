"""hha_spark benchmark: detector cycles and registry passes.

    python3 perfbench/run.py --workload detector_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` the per-layer ones. A run record (input counts, host
context, every sample) goes to `.perfbench_out/`. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("detector_batch", "registry")
# detector cycles run before timing starts: the first cycles of a
# process carry JIT and codegen warm-up (cycle 0 takes 4-5x a warm one,
# and cycles 3-5 are still 10-30% slower than later ones)
WARM_CYCLES = 6
# cycles whose counts are reported: fixed indices, so a faster or
# slower host reports counts of the same cycles
COUNT_CYCLES = range(WARM_CYCLES, WARM_CYCLES + 5)
# --seconds sets how many operations are timed, at these nominal times
# on a 4-core host. A count fixed before the run, not a deadline, keeps
# a fast host from timing more (and warmer) operations than a slow one.
NOMINAL_CYCLE_S = 2.5
NOMINAL_PASS_S = 3.0
MIN_PASSES = 3
# untimed registry passes after the cold one: the first warm execution
# of the training loop still takes up to twice a steady one
WARM_PASSES = 1
REGISTRY_QUERIES = (
    # mostly outside Spark jobs: a driver-side training loop
    "quality_classifier_trained",
    # mostly inside Spark jobs: scans, shuffles, joins
    "q9_product_profit",
)
TABLE_SEED = 20240301
# oracle results depend only on the generated tables: cache them per
# checkout, keyed by the generator's source, seed and numpy version
ORACLE_CACHE = os.path.join(ROOT, ".perfbench_out", "oracle_cache")
# names `hha_spark.detector` imported -> span names; each span's
# metric is its name plus "_s"
DETECTOR_SPANS = (
    ("read_window", "sources.read_window"),
    ("recent_alerts", "sinks.recent_alerts"),
    ("detect_spikes", "operators.detect_spikes"),
    ("collect_rules", "sinks.collect_rules"),
    ("append_alerts", "sinks.append_alerts"),
    ("release_tracked", "caching.release_tracked"),
)
SPARK_COUNTS = (
    ("jobs", "count"), ("tasks", "count"), ("in_job_s", "s"),
    ("scan_rows", "count"), ("scan_files", "count"), ("scan_bytes", "B"),
    ("shuffle_write_bytes", "B"), ("files_written", "count"),
)
END_TO_END = (("setup_s", "s"), ("latency_p50_s", "s"), ("pass_s", "s"))
PER_LAYER = (
    [("session.start_s", "s")]
    + [(f"{span}_s", "s") for _, span in DETECTOR_SPANS]
    + [("detector.run_cycle_self_s", "s")]
    + [
        (f"queries.{q}.{m}", u)
        for q in REGISTRY_QUERIES
        for m, u in (("build_s", "s"), ("outside_job_s", "s"), ("jobs", "count"))
    ]
    + [(f"spark.{m}", u) for m, u in SPARK_COUNTS]
    + [("host.steal_frac", "frac"), ("host.probe_s", "s"), ("trace.op_p50_s", "s")]
)


class Run:
    """One benchmark process: its work directory, session and record."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.record: dict = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
        }
        self.layer: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
        self.attempted = self.failed = 0
        self.spark = None

    def environment(self) -> None:
        """Keep every file Spark and Python write inside the work
        directory, and give Spark every core (`local[nproc]`)."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "HHA_STREAM_LOG": os.path.join(self.work, "stream.log"),
            # -XX:-UsePerfData: the JVM would otherwise keep a file
            # under the system temp directory, whatever java.io.tmpdir is
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
                f"--conf spark.sql.warehouse.dir={self.work}/warehouse "
                "pyspark-shell"
            ),
        })

    def start_session(self):
        from hha_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench_{self.args.workload}")
        self.spark.range(1).count()
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.record["session_start_s"] = self.layer["session.start_s"]
        if self.trace:
            from tracing import SparkCounters, Tracer

            self.tracer = Tracer()
            self.counters = SparkCounters(self.spark)
        return self.spark

    def span(self, name: str):
        return self.tracer.span(name) if self.trace else contextlib.nullcontext()

    def traced_op(self, group: str, span: str, fn):
        """Run `fn` as one operation; returns (wall seconds, result,
        counts or None, span index or None). Status-store reads sit
        outside the timed interval."""
        if not self.trace:
            t0 = time.perf_counter()
            out = fn()
            return time.perf_counter() - t0, out, None, None
        self.counters.begin(group)
        t0 = time.perf_counter()
        with self.tracer.span(span) as idx:
            out = fn()
        wall = time.perf_counter() - t0
        return wall, out, self.counters.end(), idx

    def host_context(self, cpu0) -> None:
        import host

        self.layer["host.steal_frac"] = host.steal_frac(cpu0, host.cpu_times())
        probe_py = statistics.median(host.python_probe() for _ in range(3))
        probe_spark = host.spark_probe(self.spark)
        self.layer["host.probe_s"] = probe_py + probe_spark
        self.record["host"] = {
            "steal_frac": self.layer["host.steal_frac"],
            "python_probe_s": probe_py,
            "spark_probe_s": probe_spark,
            "nproc": len(os.sched_getaffinity(0)),
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=120)


def detector_batch(run: Run) -> dict:
    import histgen
    import host
    import oracle
    from hha_spark import detector
    from hha_spark.config import DetectorParams
    from hha_spark.sources.watchlist import zones_from_ints

    args = run.args
    params = DetectorParams()
    hist_root = os.path.join(run.work, "histograms")
    alerts_path = os.path.join(run.work, "alerts")
    info = histgen.generate(hist_root, args.seed)
    run.record["inputs"] = info["counts"]
    spark = run.start_session()
    zones = zones_from_ints(spark, info["zones"])
    if run.trace:
        for attr, span in DETECTOR_SPANS:
            run.tracer.wrap(detector, attr, span)

    rules: list = []
    walls: list[float] = []
    per_cycle: list[tuple] = []

    def cycle(i: int) -> None:
        def call():
            return detector.run_cycle(
                spark, data_root=hist_root, alerts_path=alerts_path,
                params=params, zones=zones, now=histgen.cycle_now(i),
            )

        try:
            wall, out, counts, idx = run.traced_op(
                f"cycle-{i}", "detector.run_cycle", call
            )
        except Exception as e:  # noqa: BLE001 — counted as failed
            print(f"cycle {i} raised {type(e).__name__}: {e}", file=sys.stderr)
            rules.append(None)
            return
        rules.append(out)
        if i >= WARM_CYCLES:
            walls.append(wall)
            if run.trace:
                per_cycle.append((i, counts, run.tracer.children_self_time(idx)))

    for i in range(WARM_CYCLES):
        cycle(i)
    setup_s = time.perf_counter() - T_START
    cpu0 = host.cpu_times()
    n_cycles = max(len(COUNT_CYCLES), round(args.seconds / NOMINAL_CYCLE_S))
    for i in range(WARM_CYCLES, min(WARM_CYCLES + n_cycles, histgen.MAX_CYCLES + 1)):
        cycle(i)
    measured_s = time.perf_counter() - T_START
    run.host_context(cpu0)

    # every cycle, warm-up included, against the DuckDB replay
    replay = oracle.DetectorOracle(hist_root, info["zones"], params)
    wrong = []
    for k, got in enumerate(rules):
        want = replay.rules(histgen.cycle_now(k))
        if got is None or oracle.rule_tuples(got) != want:
            wrong.append(k)
    run.attempted, run.failed = len(rules), len(wrong)
    run.record.update({
        "cycles": len(rules), "wrong_cycles": wrong,
        "rules_per_cycle": [len(r) if r is not None else None for r in rules],
        "cycle_walls_s": walls,
        "phases_s": {"setup": setup_s, "measured": measured_s,
                     "checked": time.perf_counter() - T_START},
    })

    p50 = statistics.median(walls)
    if run.trace:
        _detector_layers(run, per_cycle)
        run.layer["trace.op_p50_s"] = p50
    return {"setup_s": setup_s, "latency_p50_s": p50, "pass_s": p50}


def _detector_layers(run: Run, per_cycle: list[tuple]) -> None:
    """Span medians over every timed cycle; counts from the fixed
    COUNT_CYCLES."""
    for _, span in DETECTOR_SPANS:
        run.layer[f"{span}_s"] = statistics.median(s.get(span, 0.0) for _, _, s in per_cycle)
    run.layer["detector.run_cycle_self_s"] = statistics.median(
        s["self"] for _, _, s in per_cycle
    )
    run.layer["spark.in_job_s"] = statistics.median(c["in_job_s"] for _, c, _ in per_cycle)
    counted = [c for i, c, _ in per_cycle if i in COUNT_CYCLES]
    for m, _ in SPARK_COUNTS:
        if m != "in_job_s":
            run.layer[f"spark.{m}"] = statistics.median(c[m] for c in counted)
    run.record["cycle_counts"] = [(i, c) for i, c, _ in per_cycle]


def registry(run: Run) -> dict:
    import host
    import oracle
    import tablegen
    from hha_spark.caching import release_tracked
    from hha_spark.queries import all_oracles, all_queries

    args = run.args
    table_dir = os.path.join(run.work, "tables")
    run.record["inputs"] = tablegen.generate(table_dir, TABLE_SEED)
    spark = run.start_session()
    fns, oracles = all_queries(), all_oracles()
    rng = random.Random(args.seed)

    def query_op(name: str):
        def call():
            with run.span(f"queries.{name}.build"):
                df = fns[name](spark, table_dir)
            df.write.format("noop").mode("overwrite").save()
            with run.span("caching.release_tracked"):
                release_tracked()

        return call

    def collect(name: str):
        """The query's rows, for the oracle check; untimed."""
        try:
            return fns[name](spark, table_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — counted as failed
            return f"{type(e).__name__}: {e}"
        finally:
            release_tracked()

    # warm-up, untimed: a cold pass whose rows are checked after timing
    order = list(REGISTRY_QUERIES)
    rng.shuffle(order)
    results = {"cold": {name: collect(name) for name in order}}
    for _ in range(WARM_PASSES):
        for name in order:
            query_op(name)()
    setup_s = time.perf_counter() - T_START

    cpu0 = host.cpu_times()
    samples: dict[str, list[float]] = {q: [] for q in REGISTRY_QUERIES}
    traced: dict[str, list[tuple]] = {q: [] for q in REGISTRY_QUERIES}
    errors = 0
    n_passes = max(MIN_PASSES, round(args.seconds / NOMINAL_PASS_S))
    for passes in range(n_passes):
        rng.shuffle(order)
        for name in order:
            try:
                wall, _, counts, idx = run.traced_op(
                    f"{name}-{passes}", f"queries.{name}", query_op(name)
                )
            except Exception as e:  # noqa: BLE001 — counted as failed
                print(f"{name} raised {type(e).__name__}: {e}", file=sys.stderr)
                errors += 1
                continue
            samples[name].append(wall)
            if run.trace:
                traced[name].append((wall, counts, run.tracer.children_self_time(idx)))
    measured_s = time.perf_counter() - T_START
    run.host_context(cpu0)
    # a warm call after the timed ones, so that state kept across calls
    # (tracked persists, memoised readers) is checked too
    results["warm"] = {name: collect(name) for name in order}

    import numpy

    with open(os.path.join(HERE, "tablegen.py"), "rb") as fh:
        table_key = f"{TABLE_SEED}:{numpy.__version__}:{fh.read().hex()}"
    con = oracle.registry_connection(table_dir)
    wrong: dict[str, list[str]] = {}
    for name in REGISTRY_QUERIES:
        duck = oracle.oracle_result(con, oracles[name], ORACLE_CACHE, table_key)
        for when, rows in results.items():
            got = rows[name]
            problems = (
                [got] if isinstance(got, str)
                else oracle.registry_problems(*duck, got)
            )
            wrong.setdefault(name, []).extend(f"{when}: {p}" for p in problems)
    wrong = {name: problems for name, problems in wrong.items() if problems}
    con.close()

    executed = sum(len(v) for v in samples.values())
    run.attempted = executed + errors
    run.failed = errors + sum(len(samples[q]) for q in wrong)
    run.record.update({
        "passes": n_passes, "wrong": wrong, "samples_s": samples,
        "phases_s": {"setup": setup_s, "measured": measured_s,
                     "checked": time.perf_counter() - T_START},
    })
    medians = [statistics.median(v) for v in samples.values() if v]
    pass_s = sum(medians)
    if run.trace:
        _registry_layers(run, traced)
        run.layer["trace.op_p50_s"] = pass_s
    return {
        "setup_s": setup_s,
        # the median of the per-query medians: the median of all
        # executions would jump between queries of different lengths
        "latency_p50_s": statistics.median(medians),
        "pass_s": pass_s,
    }


def _registry_layers(run: Run, traced: dict[str, list[tuple]]) -> None:
    """Per-query medians over the timed passes; counts from the first
    timed pass, checked to repeat in every later one."""
    repeat = True
    totals = {m: 0 for m, _ in SPARK_COUNTS}
    release = []
    for name, ops in traced.items():
        if not ops:
            continue
        build = f"queries.{name}.build"
        run.layer[f"queries.{name}.build_s"] = statistics.median(s[build] for _, _, s in ops)
        run.layer[f"queries.{name}.outside_job_s"] = statistics.median(
            w - c["in_job_s"] for w, c, _ in ops
        )
        first = ops[0][1]
        run.layer[f"queries.{name}.jobs"] = first["jobs"]
        for m, _ in SPARK_COUNTS:
            if m == "in_job_s":
                totals[m] += statistics.median(c[m] for _, c, _ in ops)
            else:
                totals[m] += first[m]
                repeat &= all(c[m] == first[m] for _, c, _ in ops)
        release += [s["caching.release_tracked"] for _, _, s in ops]
    for m, _ in SPARK_COUNTS:
        run.layer[f"spark.{m}"] = totals[m]
    run.layer["caching.release_tracked_s"] = statistics.median(release)
    run.record["counts_repeat"] = repeat
    run.record["query_counts"] = {n: [c for _, c, _ in ops] for n, ops in traced.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    run = Run(args)
    try:
        import hha_spark  # noqa: F401
        import selfcheck  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e})", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out")
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(out_dir, exist_ok=True)
    run.environment()
    try:
        e2e = (detector_batch if args.workload == "detector_batch" else registry)(run)
        if run.trace:
            run.tracer.dump(os.path.join(out_dir, f"{stem}.spans.jsonl"))
    finally:
        try:
            run.stop()
        finally:
            with open(os.path.join(out_dir, f"{stem}.json"), "w", encoding="utf-8") as fh:
                json.dump(run.record, fh, indent=1, default=str)
            shutil.rmtree(run.work, ignore_errors=True)

    names = PER_LAYER if run.trace else END_TO_END
    values = run.layer if run.trace else e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
