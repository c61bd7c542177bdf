"""Tracing from outside the program: spans around module attributes,
Spark's streaming progress, and its status stores.

Only the traced run (`--trace 1`) calls anything here. The untraced run
adds no listener and no wrapper and reads no status store.
"""

from __future__ import annotations

import functools
import importlib
import re
import threading
import time
from contextlib import contextmanager
from datetime import datetime


class Spans:
    """Total time and call count per span name, kept in memory."""

    def __init__(self) -> None:
        self.total: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self._lock = threading.Lock()  # each stage's foreachBatch has its own thread

    def add(self, name: str, seconds: float) -> None:
        with self._lock:
            self.total[name] = self.total.get(name, 0.0) + seconds
            self.calls[name] = self.calls.get(name, 0) + 1

    def timed(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.add(name, time.perf_counter() - t0)

        return wrapper

    def metrics(self, names: list[str]) -> dict[str, float]:
        out = {}
        for n in names:
            out[f"{n}_s"] = self.total.get(n, 0.0)
            out[f"{n}_calls"] = float(self.calls.get(n, 0))
        return out


@contextmanager
def patched(targets: list[tuple[str, str, str, bool]], spans: Spans):
    """Wrap module attributes for the duration of the block.

    Each target is (module, attribute, span name, returns_writer). A
    factory that returns a per-batch writer (`returns_writer`) gets its
    writer timed, not the factory call. Only the named module's binding
    is replaced, so a module that imported the name must be the one
    listed. Everything is restored on exit."""
    saved = []
    try:
        for mod_name, attr, span, returns_writer in targets:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            if returns_writer:
                def factory(*a, _orig=orig, _span=span, **kw):
                    return spans.timed(_span, _orig(*a, **kw))
                new = functools.wraps(orig)(factory)
            else:
                new = spans.timed(span, orig)
            saved.append((mod, attr, orig))
            setattr(mod, attr, new)
        yield spans
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


# ---- streaming progress --------------------------------------------------


def since(progress: list[dict], t0: float) -> list[dict]:
    """Progress entries of the batches triggered at or after epoch t0."""
    def epoch(p) -> float:
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    return [p for p in progress if epoch(p) >= t0]


def stage_progress(progress: list[dict]) -> dict[str, float]:
    """Per-stage numbers from a query's `recentProgress`: data batches,
    median trigger and addBatch seconds per data batch, input rows, and
    the state operators' row count and commit time."""
    data = [p for p in progress if (p.get("numInputRows") or 0) > 0]
    trig = sorted(p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in data)
    add = sorted(p["durationMs"].get("addBatch", 0) / 1000.0 for p in data)
    ops = [op for p in progress for op in (p.get("stateOperators") or [])]
    return {
        "batches": float(len(data)),
        "batch_s": trig[len(trig) // 2] if trig else 0.0,
        "add_batch_s": add[len(add) // 2] if add else 0.0,
        "rows_in": float(sum(p.get("numInputRows") or 0 for p in progress)),
        "state_rows": float(max((op.get("numRowsTotal") or 0 for op in ops), default=0)),
        "state_commit_s": sum((op.get("commitTimeMs") or 0) for op in ops) / 1000.0,
    }


# ---- status stores ---------------------------------------------------------

_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}
_UNIT_B = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_NUM = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """The one parser for the SQL status store's formatted values.

    Values read like "2.1 s (1.0 s, 1.0 s, 1.1 s ...)" (timing, in the
    unit shown), "12.5 MiB (...)" (size), or "1,234" (count). Returns
    seconds, bytes or the count; the first number is the total."""
    lines = str(text).splitlines() if text is not None else []
    m = _NUM.match(lines[-1]) if lines else None  # a task summary sits on the last line
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNIT_S:
        return value * _UNIT_S[unit]
    if unit in _UNIT_B:
        return value * _UNIT_B[unit]
    return value


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads the application and SQL status stores through the JVM,
    between queries, never inside a timed window."""

    PYTHON_TIME = "time to run Python workers"  # summed over tasks

    def __init__(self, spark) -> None:
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def last_job_id(self) -> int:
        return max((j.jobId() for j in _iter(self.app.jobsList(None))), default=-1)

    def last_execution_id(self) -> int:
        return max((e.executionId() for e in _iter(self.sql.executionsList())), default=-1)

    def window(self, job_after: int, exec_after: int, wall_s: float) -> dict[str, float]:
        """Jobs with id > job_after and SQL executions with id >
        exec_after: job count, driver gap (wall minus the union of job
        spans), shuffle MiB read plus written, and Python-operator time."""
        spans, stage_ids = [], []
        n_jobs = 0
        for j in _iter(self.app.jobsList(None)):
            if j.jobId() <= job_after:
                continue
            n_jobs += 1
            a, b = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
            if a is not None and b is not None:
                spans.append((a, b))
            stage_ids += list(_iter(j.stageIds()))
        busy, end = 0.0, None
        for a, b in sorted(spans):
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        shuffle = 0
        for sid in set(stage_ids):
            for st in _iter(self.app.stageData(sid, False, None, False, None)):
                shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
        python_s = 0.0
        for e in _iter(self.sql.executionsList()):
            if e.executionId() <= exec_after:
                continue
            names = {
                m.accumulatorId(): m.name()
                for m in _iter(e.metrics())
                if m.name() == self.PYTHON_TIME
            }
            if not names:
                continue
            values = self.sql.executionMetrics(e.executionId())
            for acc in names:
                if values.contains(acc):
                    python_s += parse_metric(values.apply(acc))
        return {
            "jobs": float(n_jobs),
            "driver_gap_s": max(0.0, wall_s - busy),
            "shuffle_mb": shuffle / 1024.0**2,
            "python_s": python_s,
        }
