"""In-memory spans and Spark-side counters for the traced run.

Spans are kept in a list and written out once, when the run ends. A span
records its name, start, end, parent and an optional key (a batch id or a
query name). Self time is a span's duration minus the part covered by its
children. The tracer times its own bookkeeping, so the traced run can report
what tracing cost.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, key: object = None):
        if not self.enabled:
            yield -1
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            span = {"name": name, "key": key, "parent": stack[-1] if stack else None}
            self.spans.append(span)
        stack.append(idx)
        span["start"] = time.time()
        self._charge(t0)
        try:
            yield idx
        finally:
            span["end"] = time.time()
            t1 = time.perf_counter()
            stack.pop()
            self._charge(t1)

    def _charge(self, since: float) -> None:
        with self._lock:
            self.overhead_s += time.perf_counter() - since

    def record(self, name: str, start: float, end: float, key: object = None, parent: int | None = None) -> int:
        """Add a span measured elsewhere (a Spark duration, a commit time)."""
        if not self.enabled:
            return -1
        with self._lock:
            self.spans.append({"name": name, "key": key, "parent": parent, "start": start, "end": end})
            return len(self.spans) - 1

    def durations_ms(self, name: str, key: object = None, within: tuple[float, float] | None = None) -> list[float]:
        """Durations of the spans called ``name`` (and keyed ``key``, and
        lying inside the ``within`` interval of epoch seconds, if given)."""
        lo, hi = within or (float("-inf"), float("inf"))
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and (key is None or s["key"] == key) and lo <= s["start"] and s["end"] <= hi
        ]

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["parent"] >= 0:
                child_cover[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, cover in zip(self.spans, child_cover):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - cover) * 1e3
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_times_ms()}, f)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not values:
        return 0.0
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]


class SparkCounters:
    """Jobs, stages and bytes per job group, read from Spark's StatusTracker
    and the JVM AppStatusStore (both work with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[int]:
        out: list[int] = []
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                out.extend(info.stageIds)
        return out

    def shuffle_write_bytes(self, stage_ids: list[int]) -> int:
        from py4j.protocol import Py4JJavaError

        total = 0
        for s in stage_ids:
            try:
                total += self.store.lastStageAttempt(s).shuffleWriteBytes()
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
        return total

    def batch_jobs(self, run_id: str) -> dict[int, int]:
        """Spark job count per micro-batch of one streaming run. The stream
        thread tags its jobs with the run id as job group and ``batch = N``
        in the description; foreachBatch jobs inherit both."""
        jobs = self.store.jobsList(None)
        per_batch: dict[int, int] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or group.get() != run_id:
                continue
            desc = job.description()
            text = desc.get() if desc.isDefined() else ""
            batch = _batch_of(text)
            if batch is not None:
                per_batch[batch] = per_batch.get(batch, 0) + 1
        return per_batch


def _batch_of(description: str) -> int | None:
    for line in description.splitlines():
        line = line.strip()
        if line.startswith("batch = "):
            try:
                return int(line.split("=", 1)[1])
            except ValueError:
                return None
    return None


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
