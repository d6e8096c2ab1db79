"""Tracing from outside the program: spans and Spark status-store counts.

Spans are kept in memory as (name, start, end, parent) and written out
when the run ends. They are recorded around calls into the program's
layers, by rebinding the names `hha_spark.detector` imported
(`read_window`, `recent_alerts`, ...) to timing wrappers; no program
file changes.

Counts come from Spark's own status stores, which work with the UI
disabled: the core store (`sc._jsc.sc().statusStore()`) for jobs,
stages, tasks and bytes, and the SQL store
(`spark._jsparkSession.sharedState().statusStore()`) for the plan
metrics of `Scan parquet` and write nodes. Both are read after the
listener bus drains, so the last job of an operation has its
completion time.
"""

from __future__ import annotations

import functools
import json
import time


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Rebind `module.attr` to a wrapper that records a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def children_self_time(self, idx: int) -> dict[str, float]:
        """Duration of each direct child of span `idx`, by name, and
        the parent's self time under the key `self`: its duration minus
        the union of its children's intervals."""
        name, start, end, _ = self.spans[idx]
        out: dict[str, float] = {}
        intervals = []
        for j in range(idx + 1, len(self.spans)):
            c = self.spans[j]
            if c[3] == idx:
                out[c[0]] = out.get(c[0], 0.0) + (c[2] - c[1])
                intervals.append((c[1], c[2]))
        out["self"] = (end - start) - union_length(intervals)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for name, start, end, parent in self.spans:
                fh.write(json.dumps(
                    {"name": name, "start": start, "end": end, "parent": parent}
                ) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        parent = t._stack[-1] if t._stack else -1
        self.idx = len(t.spans)
        t.spans.append((self.name, time.perf_counter(), 0.0, parent))
        t._stack.append(self.idx)
        return self.idx

    def __exit__(self, *exc):
        t = self.t
        t._stack.pop()
        name, start, _, parent = t.spans[self.idx]
        t.spans[self.idx] = (name, start, time.perf_counter(), parent)
        return False


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkCounters:
    """Per-operation counts from the status stores.

    Call `begin(group)` before an operation and `end()` after it; `end`
    returns the operation's jobs, tasks, in-job time (the union of its
    job intervals, so overlapping jobs count once), scan, shuffle and
    write counts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.group = None

    def _drain(self):
        self.jsc.listenerBus().waitUntilEmpty()

    def begin(self, group: str) -> None:
        self._drain()
        self.group = group
        self.n_exec = self.sql_store.executionsCount()
        self.sc.setJobGroup(group, group)

    def end(self) -> dict:
        self._drain()
        self.sc._jsc.clearJobGroup()
        jobs = []
        for j in _seq(self.store.jobsList(None)):  # newest first
            if not j.jobGroup().isDefined() or j.jobGroup().get() != self.group:
                break
            jobs.append(j)
        intervals, tasks, scan_bytes, shuffle_bytes = [], 0, 0, 0
        for j in jobs:
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                intervals.append((
                    j.submissionTime().get().getTime() / 1000.0,
                    j.completionTime().get().getTime() / 1000.0,
                ))
            tasks += j.numCompletedTasks()
            for sid in _seq(j.stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage never ran
                    continue
                if st.status().toString() == "COMPLETE":
                    scan_bytes += st.inputBytes()
                    shuffle_bytes += st.shuffleWriteBytes()
        scan_rows = scan_files = files_written = 0
        n_exec = self.sql_store.executionsCount()
        for e in _seq(self.sql_store.executionsList(self.n_exec, n_exec - self.n_exec)):
            eid = e.executionId()
            values = self.sql_store.executionMetrics(eid)
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                name = node.name()
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if name.startswith("Scan parquet"):
                        if m.name() == "number of output rows":
                            scan_rows += _int(v.get())
                        elif m.name() == "number of files read":
                            scan_files += _int(v.get())
                    elif m.name() == "number of written files":
                        files_written += _int(v.get())
        return {
            "jobs": len(jobs),
            "tasks": tasks,
            "in_job_s": union_length(intervals),
            "scan_rows": scan_rows,
            "scan_files": scan_files,
            "scan_bytes": scan_bytes,
            "shuffle_write_bytes": shuffle_bytes,
            "files_written": files_written,
        }


def _int(text: str) -> int:
    return int(text.replace(",", "").strip())
