"""Measurement plumbing: spans, call wrappers, Spark event-log counters and
the process-tree RSS sampler.

Spans are recorded only by the benchmark, around calls into the program's
public functions; nothing inside ``dic_a1_spark`` is changed. Each span
tags the Spark jobs it starts through the ``perfbench.span`` local
property, so event-log counters can be attributed to spans after the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every span a no-op."""

    sc: object = None  # SparkContext, for job tagging
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        self._tag(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if span_id is None else str(span_id))

    def root_of(self, span_id: int) -> int:
        while self.spans[span_id].parent is not None:
            span_id = self.spans[span_id].parent
        return span_id

    def descendants(self, root_ids: set[int]) -> set[int]:
        """Every span id whose root (or self) is in ``root_ids``."""
        out = set()
        for s in self.spans:
            sid = s.id
            while sid is not None and sid not in root_ids:
                sid = self.spans[sid].parent
            if sid is not None:
                out.add(s.id)
        return out

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part covered
        by child spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[object, str]], span_name,
            on_call=None):
    """Temporarily replace ``obj.attr`` for each (module or class, attr)
    target with a wrapper that records a span (and calls ``on_call(args)``).
    ``span_name`` is a string, or a function of the call count (0 for the
    first call) that names each call's span."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr in targets]
    original = saved[0][2]
    calls = 0

    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        nonlocal calls
        if on_call is not None:
            on_call(args)
        name = span_name if isinstance(span_name, str) else span_name(calls)
        calls += 1
        with tracer.span(name):
            return original(*args, **kwargs)

    for mod, attr, _ in saved:
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def module_refs(func) -> list[tuple[object, str]]:
    """Every loaded ``dic_a1_spark`` module global that is bound to ``func``
    (modules import public functions by name, so each binding is patched)."""
    out = []
    for name, mod in list(sys.modules.items()):
        if name.startswith("dic_a1_spark") and mod is not None:
            for attr, val in list(vars(mod).items()):
                if val is func:
                    out.append((mod, attr))
    return out


# ------------------------------------------------------------- event log


def _events(log_dir: str):
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_metric_ids(info: dict, node_pred, metric_name: str, out: set) -> None:
    if node_pred(info.get("nodeName", "")):
        for m in info.get("metrics", []):
            if m.get("name") == metric_name:
                out.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_metric_ids(child, node_pred, metric_name, out)


@dataclass
class StageStats:
    span: int | None
    tasks: int = 0
    failed: int = 0
    run_ms: list[float] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_bytes_sent: int = 0
    python_rows: int = 0


@dataclass
class EventLog:
    jobs: dict[int, int | None]   # job id -> span id
    stages: dict[int, StageStats]  # stage id -> stats

    @classmethod
    def parse(cls, log_dir: str) -> "EventLog":
        jobs: dict[int, int | None] = {}
        stages: dict[int, StageStats] = {}
        python_row_ids: set[int] = set()
        is_python = lambda n: "Python" in n  # noqa: E731  ArrowEvalPython & co.

        def span_of(props):
            v = (props or {}).get(SPAN_PROPERTY)
            return int(v) if v not in (None, "") else None

        for e in _events(log_dir):
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = span_of(e.get("Properties"))
            elif kind == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                stages.setdefault(sid, StageStats(span_of(e.get("Properties"))))
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metric_ids(e.get("sparkPlanInfo", {}), is_python,
                                 "number of output rows", python_row_ids)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], StageStats(None))
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                st.tasks += 1
                if info.get("Failed") or e["Task End Reason"].get("Reason") != "Success":
                    st.failed += 1
                st.run_ms.append(m.get("Executor Run Time", 0))
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_write_records += sw.get("Shuffle Records Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == "data sent to Python workers":
                        st.python_bytes_sent += int(acc.get("Update", 0))
                    elif acc.get("ID") in python_row_ids:
                        st.python_rows += int(acc.get("Update", 0))
        return cls(jobs, stages)

    def totals(self, span_ids: set[int]) -> dict:
        """Counters summed over the jobs and stages tagged with ``span_ids``."""
        sts = [s for s in self.stages.values() if s.span in span_ids and s.tasks]
        biggest = max(sts, key=lambda s: sum(s.run_ms), default=None)
        skew = 0.0
        if biggest is not None and statistics.median(biggest.run_ms) > 0:
            skew = max(biggest.run_ms) / statistics.median(biggest.run_ms)
        return {
            "jobs": sum(1 for s in self.jobs.values() if s in span_ids),
            "stages": len(sts),
            "tasks": sum(s.tasks for s in sts),
            "failed_tasks": sum(s.failed for s in sts),
            "run_s": sum(sum(s.run_ms) for s in sts) / 1e3,
            "cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
            "gc_s": sum(s.gc_ms for s in sts) / 1e3,
            "input_bytes": sum(s.input_bytes for s in sts),
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in sts),
            "shuffle_write_records": sum(s.shuffle_write_records for s in sts),
            "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in sts),
            "spill_bytes": sum(s.spill_bytes for s in sts),
            "python_bytes_sent": sum(s.python_bytes_sent for s in sts),
            "python_rows": sum(s.python_rows for s in sts),
            "task_skew": skew,
        }


# ------------------------------------------------------------ RSS sampler


def _tree_rss_bytes(root: int, exclude: set[int]) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read().rsplit(b")", 1)[1].split()
            with open(f"/proc/{d}/statm", "rb") as fh:
                rss[int(d)] = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # process ended while scanning
        children.setdefault(int(stat[1]), []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (JVM, Python
    workers) from /proc every ``interval`` seconds and keeps the peak while
    ``recording`` is set. Subtrees rooted at a pid in ``exclude`` are left
    out."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.recording = True
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self.recording:
                self.peak = max(self.peak, _tree_rss_bytes(me, self.exclude))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
