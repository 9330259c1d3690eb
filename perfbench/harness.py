"""Closed-loop run of one workload: one client, one operation at a time.

A run is: set-up, the cold operation, the rest of the cold pass and any
warm-up passes (untimed), then whole passes until ``seconds`` have
elapsed. ``setup_s`` runs from the start of ``run.py`` to the end of the
workload's set-up, so it holds the imports, the JVM launch, the inputs
and any artifact build; building the output checks comes after it. Each operation's
output is checked outside its timed region. An operation that raises or
fails its check counts in ``failed`` and its pass contributes no time, so
a failure never makes a pass look shorter.

With tracing on, measured passes alternate plain and traced; the
per-layer metrics come from the traced ones, and the difference between
the two medians is the tracing overhead.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from perfbench.stats import tail
from perfbench.workloads import dir_bytes

CORES = 4

END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "pass_p50_s": "s",
    "pass_tail_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.parquet.read_s": "s",
    "sources.parquet.files": "count",
    "sources.parquet.input_bytes": "bytes",
    "sources.tables.load_s": "s",
    "sources.layout.artifact_builds": "count",
    "sources.layout.artifact_builds_setup": "count",
    "sources.layout.artifact_bytes": "bytes",
    "pipeline.transform.s": "s",
    "pipeline.transform.rows_in": "count",
    "pipeline.transform.rows_out": "count",
    "pipeline.transform.keep_ratio": "ratio",
    "pipeline.convert.jobs": "count",
    "sinks.csv_sink.s": "s",
    "sinks.csv_sink.bytes": "bytes",
    "sinks.sqlite_sink.s": "s",
    "sinks.sqlite_sink.rows_per_s": "rows/s",
    "sinks.sqlite_sink.bytes": "bytes",
    "sinks.sqlite_sink.share": "ratio",
    "out_bytes_per_in_byte": "ratio",
    "plans.registry.build_s": "s",
    "plans.registry.build_share": "ratio",
    "spark.optimize_s": "s",
    "spark.execute_s": "s",
    "spark.collect_s": "s",
    "spark.result_rows": "count",
    "spark.jobs": "count",
    "spark.build_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_frac": "ratio",
    "session.get_spark_s": "s",
    "session.codegen_fallbacks": "count",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.stateless_rows_per_s": "rows/s",
    "streaming.window_agg_rows_per_s": "rows/s",
    "streaming.dedup_rows_per_s": "rows/s",
    "failed_frac": "ratio",
    "trace.pass_p50_plain_s": "s",
    "trace.pass_p50_traced_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage_min": "ratio",
}


def query_metric(name: str) -> str:
    return f"q.{name}.s"


def peak_rss_mb(pid: int, skip: frozenset[int] = frozenset()) -> dict[int, float]:
    """Peak resident memory (VmHWM, MB) of ``pid`` and each descendant,
    leaving out the processes in ``skip`` and their descendants."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    family, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p and c not in family | skip]
        family.update(kids)
        frontier.extend(kids)
    peaks = {}
    for p in family:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks[p] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return peaks


def count_done(root: str) -> int:
    """Committed write-once artifacts under ``root``."""
    return sum(1 for _, _, fs in os.walk(root) for f in fs if f == "DONE.json")


class Run:
    """State of one benchmark run; see the module docstring."""

    def __init__(self, workload, spark_factory, tracer=None, log=sys.stderr):
        self.wl = workload
        self.spark_factory = spark_factory
        self.tracer = tracer
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.next_op = 1
        self.op_times: dict[str, list[float]] = {}
        self.op_windows: dict[int, tuple[float, float]] = {}
        self.codegen_fallbacks = 0
        self._cg_offset = 0

    def op(self, spark, name: str, traced: bool) -> tuple[bool, float, int]:
        """Run, time and check one operation: ``(ok, seconds, rows)``."""
        from parquet_to_csv_spark import session

        op_id = self.next_op
        self.next_op += 1
        self.attempted += 1
        result = None
        try:
            wall0 = time.time()
            t0 = time.perf_counter()
            if traced:
                with self.tracer.operation(op_id, name):
                    result = self.wl.run_traced(spark, name, op_id, self.tracer)
            else:
                result = self.wl.run(spark, name)
            dt = time.perf_counter() - t0
            self.op_windows[op_id] = (wall0, time.time())
            self.wl.check(name, result, op_id)
            rows = self.wl.rows(name, result)
        except Exception:  # noqa: BLE001 - a failed operation is recorded, the run goes on
            self.failed += 1
            print(f"perfbench: op {op_id} {name} failed:\n{traceback.format_exc()}", file=self.log)
            return False, 0.0, 0
        finally:
            spark.sparkContext.setJobDescription(None)
            self._cg_offset, n = session.read_codegen_failures(self._cg_offset)
            self.codegen_fallbacks += n
            self.wl.cleanup(spark, name, result)
        if not traced:
            self.op_times.setdefault(name, []).append(dt)
        return True, dt, rows

    def one_pass(self, spark, ops: list[str], traced: bool = False):
        """``(seconds, rows, op ids)`` of a whole pass, or None if any op failed."""
        first_id = self.next_op
        total, rows, ok = 0.0, 0, True
        for name in ops:
            good, dt, n = self.op(spark, name, traced)
            ok &= good
            total += dt
            rows += n
        return (total, rows, list(range(first_id, self.next_op))) if ok else None

    def execute(self, seconds: float, t_start: float) -> dict:
        from parquet_to_csv_spark import session

        wl = self.wl
        t0 = time.perf_counter()
        spark = self.spark_factory()
        get_spark_s = time.perf_counter() - t0
        wl.setup(spark, os.path.join(wl.work, "setup"))
        setup_s = time.perf_counter() - t_start
        artifact_root = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR", "")
        builds_setup = count_done(artifact_root)
        wl.prepare(spark)
        self._cg_offset, _ = session.read_codegen_failures(0)

        # the cold operation, then the rest of its pass and any further
        # warm-up passes, untimed
        first = wl.pass_ops()
        _, cold_s, _ = self.op(spark, first[0], traced=False)
        for name in first[1:]:
            self.op(spark, name, traced=False)
        for _ in range(wl.warmup_passes):
            self.one_pass(spark, wl.pass_ops())

        builds_before = count_done(artifact_root)
        plain, traced, traced_ids, rows = [], [], [], []
        deadline = time.perf_counter() + seconds
        i = 0
        while True:
            use_trace = self.tracer is not None and i % 2 == 1
            res = self.one_pass(spark, wl.pass_ops(), traced=use_trace)
            i += 1
            if res is not None:
                (traced if use_trace else plain).append(res[0])
                if use_trace:
                    traced_ids.append(res[2])
                else:
                    rows.append(res[1])
            enough = plain and (self.tracer is None or traced)
            if time.perf_counter() >= deadline and (enough or i >= 8):
                break
        builds_timed = count_done(artifact_root) - builds_before
        checker = frozenset([wl.checker.pid]) if wl.checker is not None else frozenset()
        rss = peak_rss_mb(os.getpid(), skip=checker)
        spark.stop()

        report = {
            "workload": wl.name,
            "seed": wl.seed,
            "attempted": self.attempted,
            "failed": self.failed,
            "setup_s": setup_s,
            "cold_op_s": cold_s,
            "pass_s": plain,
            "traced_pass_s": traced,
            "peak_rss_mb_by_pid": rss,
            **wl.summary(),
        }
        e2e: dict[str, float] = {}
        if plain:
            p50 = statistics.median(plain)
            tail_s, tail_pct, n = tail(plain)
            report["pass_tail"] = {"percentile": tail_pct, "samples": n}
            e2e = {
                "setup_s": setup_s,
                "cold_op_s": cold_s,
                "pass_p50_s": p50,
                "pass_tail_s": tail_s,
                "rows_per_s": statistics.median(rows) / p50,
                "peak_rss_mb": sum(rss.values()),
            }
        layers = {
            "sources.layout.artifact_builds": float(builds_timed),
            "sources.layout.artifact_builds_setup": float(builds_setup),
            "sources.layout.artifact_bytes": float(dir_bytes(artifact_root)),
            "session.get_spark_s": get_spark_s,
            "session.codegen_fallbacks": float(self.codegen_fallbacks),
            "failed_frac": self.failed / self.attempted,
        }
        if self.tracer is not None and plain and traced:
            layers["trace.pass_p50_plain_s"] = statistics.median(plain)
            layers["trace.pass_p50_traced_s"] = statistics.median(traced)
            layers["trace.overhead_s"] = layers["trace.pass_p50_traced_s"] - layers["trace.pass_p50_plain_s"]
        self.e2e, self.layers, self.report = e2e, layers, report
        self.traced_ids = traced_ids
        self.traced_pass_s = traced
        return report
