"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded from the benchmark's own files, around the calls into each
layer (module attributes patched for the run, methods of the benchmark's own
``Lakehouse`` instance, the ``FetchPage`` callables); the program's source is
never modified. A span is (id, name, start, end, parent, op id); spans of one
operation (a DAG day, a query round) share the op id. Spans opened with
``jobs=True`` also count the Spark jobs they launched, through a job group and
the status tracker. Spans are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_EXCHANGE = re.compile(r"\b\w*Exchange\b")


class Tracer:
    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.enabled = False  # on only during traced ops; wrappers pass through when off
        self.op_id: int | None = None
        self.spans: list[list] = []  # [id, name, start, end, parent, op_id, jobs]
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._stack: list[int] = []

    @contextmanager
    def op(self, op_id: int, traced: bool):
        """Scope one operation; its spans and counts are kept only if ``traced``.
        A traced op also counts the classes whole-stage codegen compiled in it."""
        self.op_id, self.enabled = op_id, traced
        before = self._codegen_compiles() if traced else 0
        try:
            yield
        finally:
            if traced:
                self.count("spark.codegen_compiles", self._codegen_compiles() - before)
            self.enabled = False

    def _codegen_compiles(self) -> int:
        metrics = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[self.op_id][name] += value

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [sid, name, time.perf_counter(), None, parent, self.op_id, 0]
        self.spans.append(rec)
        self._stack.append(sid)
        group = prev = None
        if jobs:
            group = f"{self.run_id}-{sid}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            if group is not None:
                rec[6] = len(self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self._stack.pop()

    def wrap(self, name: str, fn, jobs: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, jobs):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, jobs: bool = False) -> None:
        """Replace ``owner.attr`` (a module or an instance) for this process with
        a traced wrapper."""
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), jobs))

    def self_times(self, op_ids) -> dict[str, dict]:
        """Per span name over the given ops: total and self time (the span's
        duration minus the part its child spans cover), calls and Spark jobs."""
        ops = set(op_ids)
        child = defaultdict(float)
        for s in self.spans:
            if s[4] is not None:
                child[s[4]] += s[3] - s[2]
        out: dict[str, dict] = defaultdict(
            lambda: {"total_s": 0.0, "self_s": 0.0, "calls": 0, "jobs": 0}
        )
        for s in self.spans:
            if s[5] in ops:
                agg = out[s[1]]
                agg["total_s"] += s[3] - s[2]
                agg["self_s"] += (s[3] - s[2]) - child[s[0]]
                agg["calls"] += 1
                agg["jobs"] += s[6]
        return out

    def write(self, path) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, op, jobs in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op, "run": self.run_id,
                                    "spark_jobs": jobs}) + "\n")


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle, broadcast, reused) in ``df``'s physical plan as
    planned, before adaptive re-planning."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if _EXCHANGE.search(line))


def dir_bytes(path) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # a staging file renamed away mid-walk
                pass
    return total


def parquet_files(path) -> int:
    return sum(
        1 for _root, _dirs, files in os.walk(path) for f in files if f.endswith(".parquet")
    )
