"""Timing, spans and per-layer Spark counters around calls into the library.

An *op* is one request of the workload's closed-loop client; a *call* is
one public ``muller_spark`` function inside it.  Untraced, a call is only
timed.  Traced, each call also

- tags its Spark jobs with a job group and, once the listener bus has
  drained, sums the ``StageData`` of those jobs from the status store;
- for writing calls, measures the change in bytes under the directories
  it writes;
- records a span (name, start, end, parent span, op id).

Spans stay in memory until ``write_trace``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# Every call the benchmark wraps: ``<layer>.<call>`` -> whether it writes.
CALLS = {
    "dataset.filter_vectorized": False,
    "index.inverted.search": False,
    "index.inverted.bm25": False,
    "index.vector.search": False,
    "dataset.aggregate_vectorized": False,
    "dataset.extend_df": False,
    "dataset.commit": True,
    "index.inverted.update": True,
    "index.vector.update": True,
    "versioning.merge": True,
    "versioning.diff": False,
    "operators.curation.pipeline": False,
    "operators.dedup.prefix_pairs": False,
    "operators.dedup.keep_list": False,
    "operators.dedup.semantic_dedup": False,
    "operators.flow.ingest": True,
    "operators.flow.compact": True,
    "index.inverted.build": False,
    "index.vector.build": False,
    "operators.flow.init": False,
}
COUNTERS = ("wall_ms", "jobs", "tasks", "shuffle_bytes", "exec_cpu_ms", "driver_share")


def per_layer_names() -> list[str]:
    names = []
    for call, writes in CALLS.items():
        names += [f"{call}.{c}" for c in COUNTERS]
        if writes:
            names.append(f"{call}.bytes_written")
    return names


def du(paths) -> int:
    total = 0
    for top in paths:
        for dirpath, _, files in os.walk(top):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except FileNotFoundError:  # removed by a concurrent swap
                    pass
    return total


class Probe:
    def __init__(self, spark, traced: bool, cores: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = traced
        self.cores = cores
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.calls: dict[str, list[dict]] = {}
        self._stack: list[int] = []
        self._op: int | None = None
        self._group = 0
        self.trace_cost_s = 0.0  # time spent reading counters and sizes

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": op if op is not None else self._op, "start": self._now(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = self._now()

    @contextmanager
    def op(self, kind: str, op_id: int):
        """One client request; its span's duration is the op latency."""
        self._op = op_id
        try:
            with self.span(f"op.{kind}", op_id) as rec:
                yield rec
        finally:
            self._op = None

    def call(self, name: str, fn, writes=()):
        """Run ``fn()`` (which must finish the call's work, e.g. collect)
        as library call ``name``; ``writes`` lists the directories whose
        byte growth it is charged with."""
        if not self.traced:
            t = time.perf_counter()
            out = fn()
            self._record(name, {"wall_ms": (time.perf_counter() - t) * 1e3})
            return out
        c0 = time.perf_counter()
        before = du(writes) if writes else 0
        self._group += 1
        group = f"perfbench-{self._group}"
        self.sc.setJobGroup(group, name)
        self.trace_cost_s += time.perf_counter() - c0
        with self.span(name):
            t = time.perf_counter()
            try:
                out = fn()
            finally:
                wall = time.perf_counter() - t
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        c0 = time.perf_counter()
        rec = {"wall_ms": wall * 1e3, **self._stage_counters(group)}
        rec["driver_share"] = 1.0 - rec.pop("_run_ms") / (self.cores * wall * 1e3)
        if writes:
            rec["bytes_written"] = du(writes) - before
        self._record(name, rec)
        self.trace_cost_s += time.perf_counter() - c0
        return out

    def _record(self, name: str, rec: dict) -> None:
        rec["op"] = self._op
        self.calls.setdefault(name, []).append(rec)

    def _stage_counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "tasks": 0, "shuffle_bytes": 0, "exec_cpu_ms": 0.0,
               "_run_ms": 0.0}
        empty = jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        for s in sorted(stages):
            for d in _scala_list(store.stageData(s, False, empty, False, no_q)):
                if d.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += d.numCompleteTasks()
                out["shuffle_bytes"] += d.shuffleReadBytes() + d.shuffleWriteBytes()
                out["exec_cpu_ms"] += d.executorCpuTime() / 1e6
                out["_run_ms"] += d.executorRunTime()
        return out

    # -- results ---------------------------------------------------------
    def per_layer(self) -> dict:
        """Median per call of every counter; 0 for calls this workload
        never makes."""
        out = {}
        for call, writes in CALLS.items():
            recs = self.calls.get(call, [])
            for c in COUNTERS + (("bytes_written",) if writes else ()):
                vals = [r[c] for r in recs if c in r]
                out[f"{call}.{c}"] = float(statistics.median(vals)) if vals else 0.0
        return out

    def write_trace(self, path: str) -> None:
        """Spans with self time (duration minus the child spans' durations;
        spans come from one thread, so children never overlap) plus the raw
        per-call counters, one JSON object per line."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        with open(path, "w") as f:
            for s in self.spans:
                dur = s["end"] - s["start"]
                f.write(json.dumps({**s, "dur": dur, "self": dur - child_s.get(s["id"], 0.0)})
                        + "\n")
            for call, recs in self.calls.items():
                f.write(json.dumps({"call": call, "records": recs}) + "\n")


def _scala_list(seq):
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
