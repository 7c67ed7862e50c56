"""Benchmark-side tracing: spans around every call the runner makes into an
engine layer, plus the Spark job/stage metrics of the ops they enclose.

Spans stay in memory and are written once, at the end of a run. Spark-side
numbers come from public monitoring interfaces only:

- the local UI REST API (``/api/v1/applications/<id>/jobs`` and
  ``/stages``), read after the timed phase. Jobs are attributed to an op by
  the op's job group; jobs without one (streaming micro-batches run on the
  stream's own thread) are attributed by time;
- a ``StreamingQueryListener`` registered on the session, for per-trigger
  progress (batch duration, phase durations, state rows and bytes).

With tracing off every hook is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    """Span recorder. ``span`` yields the span dict (or None when off)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ops = 0
        #: Seconds spent inside the tracer's own hooks (job-group calls and
        #: span bookkeeping) — the tracing overhead on the driver thread.
        self.hook_s = 0.0
        self.listener: ProgressListener | None = None

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        h0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.hook_s += time.perf_counter() - h0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, spark, name: str, kind: str):
        """Top-level op span; tags the op's Spark jobs with a unique group."""
        if not self.enabled:
            yield None
            return
        h0 = time.perf_counter()
        self._ops += 1
        group = f"pb-{self._ops:05d}-{name}"
        spark.sparkContext.setJobGroup(group, name)
        self.hook_s += time.perf_counter() - h0
        try:
            with self.span(name, "op", kind=kind, group=group) as rec:
                yield rec
        finally:
            h1 = time.perf_counter()
            spark.sparkContext.setJobGroup(None, None)
            self.hook_s += time.perf_counter() - h1

    def attach_listener(self, spark) -> None:
        if self.enabled and self.listener is None:
            h0 = time.perf_counter()
            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)
            self.hook_s += time.perf_counter() - h0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress (runs on the listener thread)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 - Spark API name
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "ts": time.time(),
            "batch_ms": float(p.batchDuration),
            "durations": dict(p.durationMs or {}),
            "input_rows": int(p.numInputRows),
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
            "state_bytes": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


# -- Spark monitoring REST API ------------------------------------------------


def _rest_base(spark) -> str:
    # The UI listens on all interfaces; always talk to it over loopback.
    url = spark.sparkContext.uiWebUrl or ""
    port = url.rsplit(":", 1)[-1] if url else "4040"
    app = spark.sparkContext.applicationId
    return f"http://127.0.0.1:{port}/api/v1/applications/{app}"


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _epoch_ms(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return (
        datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1000.0
    )


def fetch_spark_metrics(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs (with group, interval, stage ids) and stages of the app."""
    base = _rest_base(spark)
    jobs = []
    for j in _get(f"{base}/jobs"):
        jobs.append(
            {
                "id": j["jobId"],
                "group": j.get("jobGroup"),
                "start": _epoch_ms(j.get("submissionTime")),
                "end": _epoch_ms(j.get("completionTime")),
                "stages": j.get("stageIds", []),
                "status": j.get("status"),
            }
        )
    stages: dict[int, dict] = {}
    for s in _get(f"{base}/stages"):
        if s.get("status") not in ("COMPLETE", "FAILED"):
            continue  # skipped stages ran no tasks
        sid = s["stageId"]
        acc = stages.setdefault(
            sid,
            {
                "tasks": 0,
                "run_ms": 0.0,
                "cpu_ms": 0.0,
                "gc_ms": 0.0,
                "in_rows": 0,
                "in_bytes": 0,
                "shuffle_read": 0,
                "shuffle_write": 0,
                "spill": 0,
            },
        )
        acc["tasks"] += int(s.get("numCompleteTasks", 0)) + int(s.get("numFailedTasks", 0))
        acc["run_ms"] += float(s.get("executorRunTime", 0))
        acc["cpu_ms"] += float(s.get("executorCpuTime", 0)) / 1e6
        acc["gc_ms"] += float(s.get("jvmGcTime", 0))
        acc["in_rows"] += int(s.get("inputRecords", 0))
        acc["in_bytes"] += int(s.get("inputBytes", 0))
        acc["shuffle_read"] += int(s.get("shuffleReadBytes", 0))
        acc["shuffle_write"] += int(s.get("shuffleWriteBytes", 0))
        acc["spill"] += int(s.get("memoryBytesSpilled", 0)) + int(s.get("diskBytesSpilled", 0))
    return jobs, stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """Map each op span id to its jobs: by job group first, then — for jobs
    without one of ours (streaming micro-batches) — by submission time."""
    ops = [s for s in spans if s["layer"] == "op"]
    by_group = {s["group"]: s["id"] for s in ops}
    out: dict[int, list[dict]] = {s["id"]: [] for s in ops}
    for j in jobs:
        sid = by_group.get(j["group"])
        if sid is None and j["start"] is not None:
            for s in ops:
                if s["start"] * 1000.0 <= j["start"] <= s.get("end", s["start"]) * 1000.0:
                    sid = s["id"]
                    break
        if sid is not None:
            out[sid].append(j)
    return out


def jobs_in(span: dict, jobs: list[dict]) -> list[dict]:
    """Jobs submitted while ``span`` was open."""
    lo, hi = span["start"] * 1000.0, span["end"] * 1000.0
    return [j for j in jobs if j["start"] is not None and lo <= j["start"] <= hi]


def op_spark_stats(span: dict, jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Spark-side totals for one op: jobs, stages, tasks, job time, driver
    gap, executor time, GC, shuffle, spill and scanned input."""
    wall_ms = (span["end"] - span["start"]) * 1000.0
    ivals = [(j["start"], j["end"] or j["start"]) for j in jobs if j["start"] is not None]
    job_ms = _union_ms(ivals)
    sids = {sid for j in jobs for sid in j["stages"] if sid in stages}
    tot = {k: 0.0 for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "in_rows", "in_bytes",
                            "shuffle_read", "shuffle_write", "spill")}
    for sid in sids:
        for k in tot:
            tot[k] += stages[sid][k]
    return {
        "jobs": len(jobs),
        "stages": len(sids),
        "job_ms": job_ms,
        "gap_ms": max(0.0, wall_ms - job_ms),
        **tot,
    }
