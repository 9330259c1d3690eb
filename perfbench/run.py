"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It generates its inputs from the
seed, runs the workload closed-loop on ``local[4]``, checks every output
and prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones. Spans and a run report are written under
``.bench_out/``; scratch files live under ``.bench_work/`` and are removed
on exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
# the driver heap's ceiling; the program's default is 8g, which a small
# run on a shared machine does not need. The heap is neither preset nor
# pre-touched, so the JVM's resident size follows what the program uses.
DRIVER_MEMORY = "1g"
HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the program and Spark write inside ``work``."""
    for sub in ("tmp", "local", "artifacts"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def redirect_codegen_log(work: str) -> None:
    """``get_spark`` writes its log4j config and codegen log to /tmp; point
    both into the work dir instead (same content, same reader)."""
    from parquet_to_csv_spark import session

    log_path = os.path.join(work, "codegen.log")
    props_path = os.path.join(work, "log4j2.properties")

    def codegen_log_jvm_opt() -> str:
        with open(props_path, "w") as f:
            f.write(session._LOG4J2_TEMPLATE.format(log_path=log_path))
        return f"-Dlog4j2.configurationFile=file:{props_path}"

    session.codegen_log_path = lambda: log_path
    session._codegen_log_jvm_opt = codegen_log_jvm_opt


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def layer_metrics(run, wl, tracer, jobs: list[dict]) -> dict[str, float]:
    from perfbench import harness
    from perfbench.spans import child_coverage
    from perfbench.workloads import ITERATIVE_QUERIES, per_pass_median, span_total

    spans = tracer.spans
    traced = run.traced_ids
    out = {name: 0.0 for name in harness.PER_LAYER}
    out.update({harness.query_metric(q): 0.0 for q in ITERATIVE_QUERIES})
    out.update(run.layers)
    out.update(wl.layer_metrics(traced, spans))
    out["sources.tables.load_s"] = per_pass_median(
        traced, lambda o: span_total(spans, o, "sources.tables.load_table")
    )
    if wl.name == "registry_iterative":
        for q in ITERATIVE_QUERIES:
            out[harness.query_metric(q)] = statistics.median(run.op_times.get(q) or [0.0])
    coverage = child_coverage(spans)
    out["trace.span_coverage_min"] = min(coverage) if coverage else 0.0

    def job_op(job) -> int | None:
        # by description when the job was tagged, else by time window
        if job["desc"].startswith("op") and ":" in job["desc"]:
            return int(job["desc"][2:].split(":", 1)[0])
        for op_id, (a, b) in run.op_windows.items():
            if a <= job["submit"] <= b:
                return op_id
        return None

    per_op: dict[int, list[dict]] = {}
    for job in jobs:
        op_id = job_op(job)
        if op_id is not None:
            per_op.setdefault(op_id, []).append(job)

    def jobs_total(ops, key, phase=None) -> float:
        return float(sum(
            (1 if key == "jobs" else j.get(key, 0))
            for o in ops for j in per_op.get(o, [])
            if phase is None or j["desc"].endswith(":" + phase)
        ))

    for key, scale in (("jobs", 1), ("stages", 1), ("tasks", 1), ("input_bytes", 1),
                       ("shuffle_read_bytes", 1), ("shuffle_write_bytes", 1),
                       ("spill_bytes", 1), ("executor_run_ms", 1e-3),
                       ("executor_cpu_ns", 1e-9), ("gc_ms", 1e-3)):
        name = {"executor_run_ms": "executor_run_s", "executor_cpu_ns": "executor_cpu_s",
                "gc_ms": "gc_s"}.get(key, key)
        out[f"spark.{name}"] = per_pass_median(traced, lambda o: jobs_total(o, key) * scale)
    out["spark.build_jobs"] = per_pass_median(traced, lambda o: jobs_total(o, "jobs", "build"))
    if wl.name.startswith("convert"):
        out["pipeline.convert.jobs"] = per_pass_median(
            traced, lambda o: jobs_total(o, "jobs", "convert") / len(o)
        )
    if run.traced_pass_s:
        busy = [
            jobs_total(o, "executor_run_ms") * 1e-3 / (wall * harness.CORES)
            for o, wall in zip(traced, run.traced_pass_s)
        ]
        out["spark.core_busy_frac"] = statistics.median(busy)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "parquet_to_csv_spark", "__init__.py")):
        print("perfbench: run from the root of a source checkout "
              "(parquet_to_csv_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench import harness, stats
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    configure_env(work)
    wl = None
    try:
        redirect_codegen_log(work)
        from perfbench import eventlog
        from perfbench.spans import Tracer

        tracer = None
        conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            tracer = Tracer()
            tracer.patch_layers()
            conf.update(eventlog.event_log_conf(os.path.join(work, "eventlog")))
        from parquet_to_csv_spark import session

        # JVM scratch files go to the work dir, not /tmp
        conf["spark.driver.extraJavaOptions"] = (
            session._codegen_log_jvm_opt()
            + f" -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        )
        wl = WORKLOADS[args.workload][1](args.seed, work)
        wl.name = args.workload
        run = harness.Run(wl, lambda: session.get_spark("perfbench", extra_conf=conf), tracer)
        report = run.execute(args.seconds, T_START)
        if args.trace:
            jobs = eventlog.parse_event_log(os.path.join(work, "eventlog"))
            values = layer_metrics(run, wl, tracer, jobs)
            units = {**harness.PER_LAYER}
            report["top_self_layer_in_convert"] = getattr(wl, "top_self_layer", None)
            report["self_time_by_layer"] = getattr(wl, "self_time_by_layer", None)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            values = run.e2e
            units = harness.END_TO_END
        metrics = {
            name: (values.get(name), units.get(name, "s")) for name in values
        }
        correct = run.failed == 0 and bool(run.e2e)
        report["metrics"] = {k: v for k, (v, _) in metrics.items()}
        with open(os.path.join(out_dir, f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        line = stats.result_line(correct, run.attempted, run.failed, metrics)
    finally:
        if wl is not None:
            wl.close()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
