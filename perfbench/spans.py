"""Operation timing and span tracing for the benchmark.

Every workload step runs inside :meth:`Recorder.op`, which times it and
counts it as attempted (and failed, if it raised). With tracing on, each
operation also opens a root span and a Spark job group named after the
operation id, and :func:`install_wrappers` wraps the engine's public
entry points that the workloads call (``SnapshotTable``, the ``scd2``
operators, ``SparkSession.sql``) so that each call becomes a child span.
The wrappers are installed from here, at run time; the engine's own files
are not touched.

Spans stay in memory until :meth:`Recorder.write_spans` dumps them once
the run has ended. A span's self time is its duration minus the part of
it that its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Op:
    op_id: str
    kind: str
    start: float
    end: float = 0.0
    ok: bool = True
    error: str | None = None
    spark: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU time of the driver JVM and Python during the op

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """Times operations; once ``sc`` is set to a SparkContext, also traces them."""

    def __init__(self, cpu_clock=None):
        self.sc = None
        self.cpu_clock = cpu_clock
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self.overhead_s = 0.0  # time spent in tracing bookkeeping on the blocking path
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def tracing(self) -> bool:
        return self.sc is not None

    @contextmanager
    def op(self, kind: str):
        """Time one operation of type ``kind``; exceptions are recorded, not raised."""
        with self._lock:
            op = Op(f"{kind}-{next(self._ids)}", kind, 0.0)
            self.ops.append(op)
        root = None
        if self.tracing:
            t0 = time.perf_counter()
            self.sc.setJobGroup(op.op_id, kind, interruptOnCancel=False)
            self._local.op_id = op.op_id
            root = self._open(kind)
            self._charge(t0)
        cpu0 = self.cpu_clock() if self.cpu_clock else 0.0
        op.start = time.time()
        try:
            yield op
        except Exception as exc:  # noqa: BLE001 - a failed operation is a result
            op.ok = False
            op.error = f"{type(exc).__name__}: {exc}\n{traceback.format_exc(limit=6)}"
        finally:
            op.end = time.time()
            if self.cpu_clock:
                op.cpu_s = self.cpu_clock() - cpu0
            if root is not None:
                t0 = time.perf_counter()
                self._close(root)
                self._local.op_id = None
                op.spark = self._job_counts(op.op_id)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._charge(t0)

    def _charge(self, t0: float) -> None:
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            s = Span(
                next(self._ids), name, getattr(self._local, "op_id", None) or "",
                stack[-1].span_id if stack else None, time.time(),
            )
            self.spans.append(s)
        stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack().pop()

    @contextmanager
    def span(self, name: str):
        """A child span; a no-op when tracing is off."""
        if not self.tracing:
            yield
            return
        t0 = time.perf_counter()
        s = self._open(name)
        self._charge(t0)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self._close(s)
            self._charge(t0)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def _job_counts(self, group: str) -> dict:
        """Jobs, stages and tasks the group ran, read from the status tracker."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"ops": [asdict(o) for o in self.ops], "spans": [asdict(s) for s in self.spans]},
                f,
            )


def install_wrappers(rec: Recorder) -> None:
    """Wrap the engine's public entry points so every call is a span."""
    from pyspark.sql import SparkSession

    from iceberg_evaluation_spark.operators import scd2
    from iceberg_evaluation_spark.tables.snapshot_table import SnapshotTable

    targets = [
        (SnapshotTable, "tables", [
            "create_or_replace", "merge", "read", "compact", "history", "files_metadata",
        ]),
        (scd2, "operators.scd2", ["bulk_insert", "scd2_complex"]),
        (SparkSession, "plans", ["sql"]),
    ]
    for owner, layer, names in targets:
        for n in names:
            setattr(owner, n, rec.wrap(f"{layer}.{n}", owner.__dict__[n]))


# ---------------------------------------------------------------- analysis
def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - union_seconds(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def job_intervals(event_log_path: str) -> dict[str, list[tuple[float, float]]]:
    """Job group -> [(submit, complete)] in epoch seconds, from a Spark event log."""
    starts: dict[int, tuple[str, float]] = {}
    out: dict[str, list[tuple[float, float]]] = {}
    with open(event_log_path) as f:
        for line in f:
            if '"SparkListenerJob' not in line[:40]:
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                starts[ev["Job ID"]] = (group, ev["Submission Time"] / 1000.0)
            elif ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                group, t0 = starts.pop(ev["Job ID"])
                out.setdefault(group, []).append((t0, ev["Completion Time"] / 1000.0))
    return out
