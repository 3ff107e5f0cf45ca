"""Spans, Spark event-log counters and small statistics for the benchmark.

A traced run records one span per call into an engine layer (name, start,
end, parent) and keeps the spans in memory until the run ends. Each timed
operation runs under its own Spark job group, so the Spark event log can
attribute jobs, stages, task time and bytes to it afterwards. The event
log is written uncompressed and only in traced runs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


def pct(values, q: float) -> float:
    """The ``q``-quantile (0..1) by linear interpolation; 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory spans around calls into engine layers.

    Untraced, ``span`` records nothing and sets no job group, so the
    untraced run measures the engine alone."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        if group is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        rec = {"name": name, "group": group, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def summary(self) -> list[str]:
        """One line per span name: calls, total ms and self ms (duration
        minus the time the span's children cover)."""
        kids = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]] += s["end"] - s["start"]
        rows: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                row = rows.setdefault(s["name"], [0, 0.0, 0.0])
                row[0] += 1
                row[1] += (s["end"] - s["start"]) * 1e3
                row[2] += (s["end"] - s["start"] - kids[i]) * 1e3
        return [f"span {name}: {n} calls, {total:.1f} ms, self {own:.1f} ms"
                for name, (n, total, own) in sorted(rows.items())]


def event_log_args(log_dir: str) -> list[str]:
    """spark-submit arguments that write an uncompressed event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
    ]


_METRICS = {
    "internal.metrics.executorRunTime": "task_ms",
    "internal.metrics.input.bytesRead": "scan_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
}


class JobStats:
    """Per-job-group counters read from a finished Spark event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        stage_props: dict[tuple[int, int], dict] = {}
        # Spark writes either one file or a directory of rolled files.
        paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                 if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
        for path in sorted(paths):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    # Task events are most of the log and unused: skip them
                    # before parsing.
                    if line.startswith('{"Event":"SparkListenerTask'):
                        continue
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        self.jobs[ev["Job ID"]] = {
                            "group": props.get("spark.jobGroup.id"),
                            "submit": ev["Submission Time"],
                            "end": None,
                        }
                    elif kind == "SparkListenerJobEnd":
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        stage_props[(info["Stage ID"], info["Stage Attempt ID"])] = (
                            ev.get("Properties") or {})
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        key = (info["Stage ID"], info["Stage Attempt ID"])
                        props = stage_props.get(key, {})
                        rec = {"group": props.get("spark.jobGroup.id"),
                               "submit": info.get("Submission Time", 0),
                               "task_ms": 0, "scan_bytes": 0, "shuffle_bytes": 0}
                        for acc in info.get("Accumulables", []):
                            name = _METRICS.get(acc.get("Name"))
                            if name:
                                rec[name] += int(acc["Value"])
                        self.stages[key] = rec

    def summary(self, match) -> dict:
        """Counters over the jobs and stages for which ``match(record)``
        holds; a record has the job ``group`` and ``submit`` time (ms).
        ``job_gap_ms`` is the time between the first submit and the last
        completion during which none of the jobs ran."""
        jobs = sorted((j for j in self.jobs.values() if match(j)),
                      key=lambda j: j["submit"])
        gap, busy_until = 0, None
        for j in jobs:
            if busy_until is not None and j["submit"] > busy_until:
                gap += j["submit"] - busy_until
            end = j["end"] if j["end"] is not None else j["submit"]
            busy_until = end if busy_until is None else max(busy_until, end)
        stages = [s for s in self.stages.values() if match(s)]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "job_gap_ms": gap,
            "task_ms": sum(s["task_ms"] for s in stages),
            "scan_bytes": sum(s["scan_bytes"] for s in stages),
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
        }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    import resource

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
