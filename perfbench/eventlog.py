"""Engine-side metrics: the Spark event log and a streaming listener.

The event log is enabled only in the traced run (``get_spark(extra_conf=
...)``). Every Spark call the benchmark makes in a traced operation runs
under ``setJobDescription("op<id>:<phase>")``, so each job, and through
it each stage, is attributed to one operation and one phase.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

STAGE_ACCUMULABLES = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> list[dict]:
    """Every job in the log: id, description, submission time (epoch s),
    stage and task counts, and its stages' summed task metrics."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {
                        "id": ev["Job ID"],
                        "desc": (ev.get("Properties") or {}).get("spark.job.description") or "",
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                        "stages": 0,
                        "tasks": 0,
                    }
                    jobs[(path, ev["Job ID"])] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault((path, sid), (path, ev["Job ID"]))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = jobs.get(stage_job.get((path, info["Stage ID"])))
                    if job is None:
                        continue
                    job["stages"] += 1
                    job["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = STAGE_ACCUMULABLES.get(acc.get("Name"))
                        if key:
                            job[key] = job.get(key, 0) + float(acc.get("Value") or 0)
    return list(jobs.values())


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress and query termination."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 - pyspark API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "id": str(p.id),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [
                {
                    "rows": s.numRowsTotal,
                    "memory": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                }
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.terminated.append(str(event.id))

    def take(self, n_queries: int, timeout_s: float = 20.0) -> list[dict]:
        """Wait until ``n_queries`` more queries ended; return and clear
        the progress seen so far. Listener events arrive asynchronously."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.terminated) >= n_queries:
                    break
            time.sleep(0.01)
        with self._lock:
            if len(self.terminated) < n_queries:
                raise TimeoutError(
                    f"{len(self.terminated)} of {n_queries} streaming queries reported termination"
                )
            done, self.terminated = self.terminated[:n_queries], self.terminated[n_queries:]
            taken = [p for p in self.progress if p["id"] in done]
            self.progress = [p for p in self.progress if p["id"] not in done]
        return taken

    def discard(self) -> None:
        """Forget every termination and progress report seen so far."""
        with self._lock:
            self.terminated, self.progress = [], []


def drained_rows(progress: list[dict]) -> list[int]:
    """Input rows per query, in the order the queries first reported."""
    per_query: dict[str, int] = {}
    for p in progress:
        per_query[p["id"]] = per_query.get(p["id"], 0) + p["rows"]
    return list(per_query.values())
