"""Measurement helpers: latency statistics, result fingerprints, spans and
Spark status-store counters.

Nothing here imports pyspark; the counter reader is handed a live
session and talks to the JVM through py4j.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import time
from contextlib import contextmanager
from decimal import Decimal

#: samples that must lie above the reported tail value
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile of ``samples`` that has at least
    ``TAIL_BEYOND`` samples beyond it, as ``(value, percentile,
    samples_beyond)``.

    With n sorted samples that is the one at rank n - 10 (1-based), the
    p = 100 * (n - 10) / n percentile. A tail lies at or above the
    median, so when that p is below 50 (n < 20) the rule cannot be met:
    the maximum is returned with 0 samples beyond, and the caller
    reports that the rule was not met.
    """
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return xs[-1], 100.0, 0
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, TAIL_BEYOND


# --------------------------------------------------------------------------
# Order-insensitive result fingerprints (same canonical form on both engines)
# --------------------------------------------------------------------------


def canon(v) -> str:
    """Canonical string for one cell, identical across Spark and DuckDB."""
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    """(row count, sorted column names, md5 of the sorted canonical rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    digest = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(rows), [cols[i] for i in order], digest


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans ``(name, start, end, parent)``; callers attach the
    counts read at the same boundaries to the span dict. With
    ``enabled=False`` ``span`` records nothing and yields None, so
    untraced runs pay nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


# --------------------------------------------------------------------------
# Spark status store (py4j)
# --------------------------------------------------------------------------

STAGE_FIELDS = (
    "stages", "tasks", "run_ms", "cpu_ns", "shuffle_read", "shuffle_write",
    "spill", "gc_ms", "input_bytes", "failed_tasks",
)


class SparkCounters:
    """Reads the jobs and stages that ran since the last call, from the
    application status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.last_job = -1
        self.new_jobs()

    def new_jobs(self) -> list:
        """Jobs submitted since the previous call (newest first in the
        store, so the walk stops at the first id already seen)."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self.last_job:
                break
            out.append(job)
        if out:
            self.last_job = out[0].jobId()
        return out

    def stage_totals(self, jobs: list) -> dict[str, float]:
        """Totals over the stages of ``jobs``. Skipped stages (reused
        shuffle output) ran no tasks and are left out."""
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        seen: set[int] = set()
        for job in jobs:
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["run_ms"] += sd.executorRunTime()
                tot["cpu_ns"] += sd.executorCpuTime()
                tot["shuffle_read"] += sd.shuffleReadBytes()
                tot["shuffle_write"] += sd.shuffleWriteBytes()
                tot["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["gc_ms"] += sd.jvmGcTime()
                tot["input_bytes"] += sd.inputBytes()
                tot["failed_tasks"] += sd.numFailedTasks()
        return tot
