"""Outside-in tracing for the benchmark's traced run.

Nothing here is imported by the package. The tracer replaces the
public functions of the package modules it is given with wrappers that
record a span per call; each span also tags the Spark jobs it starts
with a job group, so the uncompressed event log can be folded back
onto the spans afterwards. Spans are kept in memory and written once.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "privacy_cdc_lakehouse_spark"
JOB_GROUP_PREFIX = "pb:"


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover.

    Children may overlap each other (callbacks on other threads); the
    union of their intervals, clipped to the parent, is subtracted.
    """
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end or c.start, end))
            for c in kids.get(s.span_id, [])
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (end - s.start) - covered
    return out


class Tracer:
    """Records spans; ``install_module``/``install_methods`` patch
    package functions so that each call opens one."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.phase = "setup"

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        # A callback thread (foreachBatch, listener) runs while the
        # main thread waits inside a span: that span caused it.
        return self._main_stack[-1] if self._main_stack else None

    def begin(self, name: str, **attrs) -> tuple[Span, object]:
        parent = self.current()
        with self._lock:
            span = Span(
                next(self._ids),
                name,
                parent.span_id if parent else None,
                self.run_id,
                time.perf_counter(),
                attrs={"phase": self.phase, **attrs},
            )
            self.spans.append(span)
        self._stack().append(span)
        return span, self._tag_jobs(span)

    def finish(self, span: Span, token) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        self._untag_jobs(token)

    def span(self, name: str, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.span, self.token = tracer.begin(name, **attrs)
                return self.span

            def __exit__(self, *exc):
                tracer.finish(self.span, self.token)
                return False

        return _Ctx()

    # -- Spark job groups ------------------------------------------------------

    def _tag_jobs(self, span: Span):
        if self.spark is None:
            return None
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"{JOB_GROUP_PREFIX}{span.span_id}")
        return prev

    def _untag_jobs(self, prev) -> None:
        if self.spark is None:
            return
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", prev)

    # -- patching ----------------------------------------------------------------

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span, token = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.finish(span, token)

        return traced

    def install_module(self, module, label: str) -> None:
        """Wrap every public function defined in ``module``, and every
        reference to it that other loaded modules imported by name."""
        for attr, fn in list(vars(module).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != module.__name__
            ):
                continue
            self._replace_everywhere(fn, self.wrap(fn, f"{label}.{attr}"))

    def install_methods(self, cls, methods, label_of) -> None:
        """Wrap instance methods; ``label_of(self)`` names the span."""
        tracer = self
        for m in methods:
            fn = getattr(cls, m)

            def make(fn=fn, m=m):
                @functools.wraps(fn)
                def traced(obj, *args, **kwargs):
                    span, token = tracer.begin(f"{label_of(obj)}.{m}")
                    try:
                        return fn(obj, *args, **kwargs)
                    finally:
                        tracer.finish(span, token)

                return traced

            setattr(cls, m, make())
            self._patched.append((cls, m, fn))

    def _replace_everywhere(self, orig, new) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not (name.startswith(PACKAGE) or name.startswith("perfbench")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)
                    self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- output --------------------------------------------------------------------

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": s.run_id,
                            "span_id": s.span_id,
                            "parent": s.parent,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "self_s": selfs[s.span_id],
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


def layer_stats(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total inclusive busy seconds (outermost
    call of a recursive name only) and total self seconds."""
    by_id = {s.span_id: s for s in spans}
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        st = out.setdefault(s.name, {"calls": 0, "busy_s": 0.0, "self_s": 0.0, "durations": []})
        st["calls"] += 1
        st["self_s"] += selfs[s.span_id]
        p = by_id.get(s.parent)
        nested = False
        while p is not None:
            if p.name == s.name:
                nested = True
                break
            p = by_id.get(p.parent)
        if not nested:
            st["busy_s"] += s.duration
            st["durations"].append((s.start, s.duration))
    return out


SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def event_log_counters(log_dir: str) -> dict[int, dict]:
    """Fold an uncompressed, non-rolling event log into per-span-id
    Spark counters, keyed by the span whose job group started each job."""
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}
    stages_seen: set[int] = set()
    for fname in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, fname)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(JOB_GROUP_PREFIX):
                        continue
                    sid = int(group[len(JOB_GROUP_PREFIX):])
                    job_span[ev["Job ID"]] = sid
                    out.setdefault(sid, dict.fromkeys(SPARK_COUNTERS, 0))["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    c = out[sid]
                    c["tasks"] += 1
                    if ev["Stage ID"] not in stages_seen:
                        stages_seen.add(ev["Stage ID"])
                        c["stages"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["task_run_ms"] += m.get("Executor Run Time", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0
                    )
                    w = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


def rollup_counters(spans: list[Span], per_span: dict[int, dict]) -> dict[str, dict]:
    """Inclusive counters per span name: a job counts for the span that
    started it and for every differently named ancestor."""
    by_id = {s.span_id: s for s in spans}
    out: dict[str, dict] = {}
    for sid, c in per_span.items():
        names = set()
        s = by_id.get(sid)
        while s is not None:
            names.add(s.name)
            s = by_id.get(s.parent)
        for n in names:
            acc = out.setdefault(n, dict.fromkeys(SPARK_COUNTERS, 0))
            for k in SPARK_COUNTERS:
                acc[k] += c[k]
    return out
