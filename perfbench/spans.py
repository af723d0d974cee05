"""Spans recorded around calls into each layer, and Spark's event log.

The traced run replaces the module attributes that ``run_pipeline`` calls
with wrappers that record a span and materialize the layer's output inside
it, so each layer's Spark work lands in its own span. Spark jobs are
attributed to the innermost span whose interval holds the job's submit
time: job groups are thread-local, and the checkpointed scorer submits its
bucket jobs from worker threads that do not inherit them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field
from typing import Optional

MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; one thread opens them (the benchmark's own)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def self_time(self, i: int) -> float:
        """Duration minus the time its child spans cover. Spans open and
        close on one stack, so children never overlap."""
        return self.spans[i].dur - sum(c.dur for c in self.spans if c.parent == i)

    def by_name(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def self_seconds(self, name: str) -> float:
        return sum(self.self_time(i) for i in self.by_name(name))

    def count(self, name: str, key: str) -> float:
        return sum(self.spans[i].counts.get(key, 0) for i in self.by_name(name))

    def innermost(self, t: float) -> Optional[int]:
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t <= s.end and (best is None or s.dur < self.spans[best].dur):
                best = i
        return best

    def dump(self, f) -> None:
        """Write the spans to ``f``, one JSON object a line."""
        for i, s in enumerate(self.spans):
            rec = {"id": i, "name": s.name, "start": s.start, "end": s.end}
            rec.update(parent=s.parent, self_s=self.self_time(i), **s.counts)
            f.write(json.dumps(rec) + "\n")


def _materialize(out, keep: list):
    """Persist and count a DataFrame output inside the span; returns the
    same object (``persist`` returns ``self``) and its row count."""
    from pyspark.sql import DataFrame

    if not isinstance(out, DataFrame):
        return out, None
    out.persist()
    keep.append(out)
    return out, out.count()


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list, keep: list, seen: dict):
    """Replace ``module.attr`` for each (module, attr, span_name) target.

    Each wrapper records a span, materializes the output in it, counts its
    rows into ``span.counts[attr]``, and stores its arguments in
    ``seen[attr]`` for off-the-clock quality metrics."""
    saved = []
    for mod, attr, name in targets:
        orig = getattr(mod, attr)

        def wrapper(*a, _orig=orig, _attr=attr, _name=name, **kw):
            with tracer.span(_name) as sp:
                out, n = _materialize(_orig(*a, **kw), keep)
                if n is not None:
                    sp.counts[_attr] = n
            seen[_attr] = (a, kw, out)
            return out

        saved.append((mod, attr, orig))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_mb: float = 0.0


def read_event_log(log_dir: str) -> list:
    """[(submit_epoch_s, [task-end events])] per Spark job, from the one
    uncompressed, non-rolling event log in ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    submit, stage_job, tasks = {}, {}, {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                submit[e["Job ID"]] = e["Submission Time"] / 1000.0
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, e["Job ID"])
            elif ev == "SparkListenerTaskEnd":
                tasks.setdefault(stage_job.get(e["Stage ID"]), []).append(e)
    return [(t, tasks.get(j, [])) for j, t in sorted(submit.items())]


def attribute_jobs(tracer: Tracer, log_dir: str) -> dict:
    """Span name -> JobStats, each job charged to its innermost span."""
    out: dict = {}
    for submitted, tasks in read_event_log(log_dir):
        i = tracer.innermost(submitted)
        if i is None:
            continue
        st = out.setdefault(tracer.spans[i].name, JobStats())
        st.jobs += 1
        for t in tasks:
            st.tasks += 1
            if t.get("Task End Reason", {}).get("Reason") != "Success":
                st.failed_tasks += 1
            m = t.get("Task Metrics") or {}
            st.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics", {})
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
    return out
