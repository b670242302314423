"""Traced runs: nested spans recorded by wrappers the benchmark installs
around the program's public functions, with Spark jobs charged to the
innermost span open when each job was submitted.

Spans live in memory (name, start, end, parent, op) and are written out
when the run ends. Per span: ``self_s`` is its wall time minus its child
spans; ``between_jobs_s`` is the part of ``self_s`` not covered by jobs
charged to it, i.e. driver-side Python and planning."""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import threading
import time

from perfbench.sparkjobs import JobLog, window_summary

ROOT = "bench.op"  # the benchmark's own code inside an op


class Tracer:
    def __init__(self, spark):
        self.log = JobLog(spark)
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._stack: list[int] = []
        self._op = -1
        self._op_first = 0
        self._in_op = False
        self.layers: dict[str, dict[str, float]] = collections.defaultdict(
            lambda: collections.defaultdict(float))
        self.overhead_s = 0.0
        self.max_self_sum_error = 0.0
        self._patches: list[tuple] = []

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if threading.current_thread() is not threading.main_thread():
            yield None
            return
        rec = [name, time.time(), None, self._stack[-1] if self._stack else None,
               self._op]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec[2] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper; ``after(layer,
        args, kwargs, result)`` may record counters from public state."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer._in_op:
                return orig(*args, **kwargs)
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(tracer.layers[name], args, kwargs, result)
            return result

        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- ops -----------------------------------------------------------------
    @contextlib.contextmanager
    def op(self):
        self._op += 1
        self._op_first = len(self.spans)
        self._in_op = True
        try:
            with self.span(ROOT) as rec:
                yield rec
        finally:
            self._in_op = False

    def close_op(self, op_wall_s: float) -> None:
        """Charge the op's jobs to its spans and fold them into the layer
        table. Runs after the op, outside its timing."""
        t = time.perf_counter()
        spans = self.spans[self._op_first:]
        jobs_of = collections.defaultdict(list)
        for job in self.log.new_jobs():
            best = None
            for i, (_, a, b, _, _) in enumerate(spans):
                if a <= job.start <= b and (best is None or a >= spans[best][1]):
                    best = i
            if best is not None:
                jobs_of[best].append(job)
        child_s = collections.defaultdict(float)
        base = self._op_first
        for name, a, b, parent, _ in spans:
            if parent is not None and parent >= base:
                child_s[parent - base] += b - a
        self_sum = 0.0
        for i, (name, a, b, _, _) in enumerate(spans):
            row = self.layers[name]
            self_s = max(0.0, (b - a) - child_s[i])
            self_sum += self_s
            w = window_summary(jobs_of[i], a, b)
            in_jobs = min(w.pop("in_jobs_s"), self_s)
            w.pop("between_jobs_s")  # of the whole span; ours is of self_s
            row["calls"] += 1
            row["wall_s"] += b - a
            row["self_s"] += self_s
            row["in_jobs_s"] += in_jobs
            row["between_jobs_s"] += self_s - in_jobs
            for field, v in w.items():
                row[field] += v
        if op_wall_s > 0:
            self.max_self_sum_error = max(
                self.max_self_sum_error, abs(self_sum - op_wall_s) / op_wall_s)
        self.overhead_s += time.perf_counter() - t

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, a, b, parent, op in self.spans:
                fh.write(json.dumps({"name": name, "start": a, "end": b,
                                     "parent": parent, "op": op}) + "\n")
