"""The five workloads. Each one says how to set up, which operations make
one pass, how to run an operation (plain and traced) and how to check
its output. The harness owns timing, failure accounting and metrics.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import statistics

from perfbench import checks, eventlog
from perfbench.gen import TreeSpec, generate_tree, parquet_files

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "fixtures", "sf0.01")
LONG_THRESHOLD_MS = 2650

TPCH_QUERIES = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_late_orders", "q5_region_revenue", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q10_returned_revenue", "q11_important_stock", "q12_shipping_priority_dist",
    "q13_customer_distribution", "q14_promo_effect", "q15_top_supplier",
    "q16_supplier_part_count", "q17_small_quantity_revenue", "q18_large_orders",
    "q19_disjunctive_revenue", "q20_excess_stock_suppliers",
    "q21_waiting_supplier", "q22_global_sales_opportunity",
    "ref_duration_pipeline", "ref_long_split", "ref_schema_union",
    "ref_distinct", "ref_cast_projection",
]
# a driver-loop operator, a parameter sweep, and a consumer of the
# write-once IVF index artifact built in set-up
ITERATIVE_QUERIES = ["kcenter_coreset", "ivf_nprobe_sweep", "ivf_indexed_topk"]
# set-up builds the IVF index this query reads
ARTIFACT_QUERY = "ivf_indexed_topk"


def tag(spark, op_id: int, phase: str) -> None:
    spark.sparkContext.setJobDescription(f"op{op_id}:{phase}")


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


class Workload:
    name = ""
    # untimed passes after the cold one, for a warm-up longer than a pass
    warmup_passes = 0
    # the process the output checks run in, started by ``prepare``
    checker: checks.Checker | None = None

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work

    def setup(self, spark, setup_dir: str) -> None:
        """Build inputs and artifacts into ``setup_dir``; timed as set-up."""

    def prepare(self, spark) -> None:
        """Build the output checks (untimed, after the last set-up)."""

    def close(self) -> None:
        """Stop the checker process, if one was started."""
        if self.checker is not None:
            self.checker.close()

    def pass_ops(self) -> list[str]:
        raise NotImplementedError

    def run(self, spark, op: str):
        raise NotImplementedError

    def run_traced(self, spark, op: str, op_id: int, tracer):
        return self.run(spark, op)

    def check(self, op: str, result, op_id: int) -> None:
        pass

    def cleanup(self, spark, op: str, result) -> None:
        pass

    def rows(self, op: str, result) -> int:
        """Rows this operation contributes to ``rows_per_s``."""
        raise NotImplementedError

    def summary(self) -> dict:
        return {}

    def layer_metrics(self, traced: list[dict], spans: list[dict]) -> dict[str, float]:
        """Workload-specific per-layer values from the traced operations."""
        return {}


def span_total(spans: list[dict], op_ids: set[int], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["op"] in op_ids and s["name"] == name)


def per_pass_median(traced_passes: list[list[int]], fn) -> float:
    """Median over traced passes of ``fn(set of the pass's op ids)``."""
    return statistics.median(fn(set(ops)) for ops in traced_passes) if traced_passes else 0.0


class ConvertWorkload(Workload):
    def __init__(self, seed: int, work: str, spec: TreeSpec, **cfg) -> None:
        super().__init__(seed, work)
        self.spec = spec
        self.cfg_kwargs = cfg
        self.input_root = ""
        self.tree: dict = {}
        self.results: dict[str, dict] = {}

    def config(self):
        from parquet_to_csv_spark.pipeline import ConvertConfig

        return ConvertConfig(**self.cfg_kwargs)

    def setup(self, spark, setup_dir: str) -> None:
        self.input_root = os.path.join(setup_dir, "input")
        self.tree = generate_tree(self.input_root, self.seed, self.spec)

    def prepare(self, spark) -> None:
        cfg = self.config()
        self.checker = checks.Checker(
            checks.ConvertOracle, self.input_root, cfg.min_duration_ms, LONG_THRESHOLD_MS
        )
        rows_in, rows_out = self.checker.counts()
        self.tree["files"] = len(parquet_files(self.input_root))
        self.tree["rows_out"] = rows_out
        self.tree["survival_frac"] = rows_out / rows_in

    def pass_ops(self) -> list[str]:
        return ["convert"]

    def _out_dir(self) -> str:
        return os.path.join(self.work, "convert_out")

    def run(self, spark, op: str):
        from parquet_to_csv_spark import pipeline

        return pipeline.convert(spark, self.input_root, self._out_dir(), self.config())

    def run_traced(self, spark, op: str, op_id: int, tracer):
        from pyspark.sql import Observation, functions as F

        from parquet_to_csv_spark import pipeline
        from parquet_to_csv_spark.sources import parquet

        cfg = self.config()
        # the transform on its own: scan, filter and dedup into the noop sink
        with tracer.span("pipeline.transform.probe"):
            tag(spark, op_id, "read")
            raw = parquet.read_parquet_tree(spark, self.input_root)
            seen_in, seen_out = Observation("rows_in"), Observation("rows_out")
            cooked = pipeline.transform(
                raw.observe(seen_in, F.count(F.lit(1)).alias("n")), cfg
            ).observe(seen_out, F.count(F.lit(1)).alias("n"))
            tag(spark, op_id, "transform")
            with tracer.span("spark.execute"):
                cooked.write.format("noop").mode("overwrite").save()
        tag(spark, op_id, "convert")
        result = pipeline.convert(spark, self.input_root, self._out_dir(), cfg)
        self.results[op_id] = {
            "rows_in": seen_in.get["n"],
            "rows_out": seen_out.get["n"],
            "csv_bytes": dir_bytes(os.path.dirname(result["csv"]["full"])) if "csv" in result else 0,
            "sqlite_bytes": os.path.getsize(result["sqlite_path"]) if "sqlite_path" in result else 0,
        }
        return result

    def check(self, op: str, result, op_id: int) -> None:
        self.checker.check(result)

    def cleanup(self, spark, op: str, result) -> None:
        shutil.rmtree(self._out_dir(), ignore_errors=True)

    def rows(self, op: str, result) -> int:
        return self.tree["rows"]

    def summary(self) -> dict:
        return {"input_tree": self.tree}

    def layer_metrics(self, traced, spans):
        from perfbench.spans import self_times

        ops = [op for p in traced for op in p]
        res = [self.results[i] for i in ops if i in self.results]
        selfs = self_times(spans)
        convert_spans = [i for i, s in enumerate(spans) if s["name"] == "pipeline.convert"]
        sqlite = [
            (spans[i]["end"] - spans[i]["start"], spans[c]["end"] - spans[c]["start"])
            for c in convert_spans
            for i, s in enumerate(spans)
            if s["parent"] == c and s["name"] == "sinks.sqlite_sink"
        ]
        rows_out = statistics.median(r["rows_out"] for r in res) if res else 0
        sqlite_s = per_pass_median(traced, lambda o: span_total(spans, o, "sinks.sqlite_sink"))
        in_bytes = self.tree["input_bytes"]
        out_bytes = statistics.median(r["csv_bytes"] + r["sqlite_bytes"] for r in res) if res else 0
        # which layer under convert() spends the most time on its own
        own: dict[str, float] = {}
        for c in convert_spans:
            for i, s in enumerate(spans):
                if s["parent"] == c or i == c:
                    own[s["name"]] = own.get(s["name"], 0.0) + selfs[i]
        self.top_self_layer = max(own, key=own.get) if own else ""
        self.self_time_by_layer = own
        read_spans = [s["end"] - s["start"] for s in spans if s["name"] == "sources.parquet.read"]
        return {
            "sources.parquet.read_s": statistics.median(read_spans) if read_spans else 0.0,
            "sources.parquet.files": float(self.tree["files"]),
            "sources.parquet.input_bytes": float(in_bytes),
            "pipeline.transform.s": per_pass_median(
                traced,
                lambda o: sum(
                    s["end"] - s["start"]
                    for s in spans
                    if s["op"] in o and s["name"] == "spark.execute"
                    and spans[s["parent"]]["name"] == "pipeline.transform.probe"
                ),
            ),
            "pipeline.transform.rows_in": float(statistics.median(r["rows_in"] for r in res)) if res else 0.0,
            "pipeline.transform.rows_out": float(rows_out),
            "pipeline.transform.keep_ratio": (
                statistics.median(r["rows_out"] / r["rows_in"] for r in res) if res else 0.0
            ),
            "sinks.csv_sink.s": per_pass_median(traced, lambda o: span_total(spans, o, "sinks.csv_sink")),
            "sinks.csv_sink.bytes": float(statistics.median(r["csv_bytes"] for r in res)) if res else 0.0,
            "sinks.sqlite_sink.s": sqlite_s,
            "sinks.sqlite_sink.rows_per_s": rows_out / sqlite_s if sqlite_s else 0.0,
            "sinks.sqlite_sink.bytes": float(statistics.median(r["sqlite_bytes"] for r in res)) if res else 0.0,
            "sinks.sqlite_sink.share": statistics.median(a / b for a, b in sqlite) if sqlite else 0.0,
            "out_bytes_per_in_byte": out_bytes / in_bytes,
        }


class RegistryWorkload(Workload):
    def __init__(self, seed: int, work: str, queries: list[str]) -> None:
        super().__init__(seed, work)
        self.queries = queries
        self.result_rows: dict[int, int] = {}

    def setup(self, spark, setup_dir: str) -> None:
        from parquet_to_csv_spark.plans.registry import QUERIES

        # building the plan claims the artifact, which set-up builds into
        # the run's fresh, empty artifact dir
        if ARTIFACT_QUERY in self.queries:
            QUERIES[ARTIFACT_QUERY](spark, SF_DIR)

    def prepare(self, spark) -> None:
        self.checker = checks.Checker(checks.RegistryOracle, SF_DIR, self.queries)

    def pass_ops(self) -> list[str]:
        return list(self.queries)

    def run(self, spark, op: str):
        from parquet_to_csv_spark.plans.registry import QUERIES

        return QUERIES[op](spark, SF_DIR).toPandas()

    def run_traced(self, spark, op: str, op_id: int, tracer):
        from parquet_to_csv_spark.plans.registry import QUERIES

        tag(spark, op_id, "build")
        with tracer.span("plans.registry.build"):
            df = QUERIES[op](spark, SF_DIR)
        tag(spark, op_id, "optimize")
        with tracer.span("spark.optimize"), contextlib.redirect_stdout(io.StringIO()):
            df.explain("formatted")
        tag(spark, op_id, "execute")
        with tracer.span("spark.execute"):
            df.write.format("noop").mode("overwrite").save()
        tag(spark, op_id, "collect")
        with tracer.span("spark.collect"):
            result = df.toPandas()
        self.result_rows[op_id] = len(result)
        return result

    def check(self, op: str, result, op_id: int) -> None:
        self.checker.check(op, result)

    def cleanup(self, spark, op: str, result) -> None:
        # drop blocks a query persisted, so the next one is not timed under them
        spark.catalog.clearCache()

    def rows(self, op: str, result) -> int:
        return len(result)

    def layer_metrics(self, traced, spans):
        def total(name):
            return per_pass_median(traced, lambda o: span_total(spans, o, name))

        build = sum(s["end"] - s["start"] for s in spans if s["name"] == "plans.registry.build")
        collect = sum(s["end"] - s["start"] for s in spans if s["name"] == "spark.collect")
        return {
            "plans.registry.build_s": total("plans.registry.build"),
            # of the work a plain operation does (build, then collect)
            "plans.registry.build_share": build / (build + collect) if build + collect else 0.0,
            "spark.optimize_s": total("spark.optimize"),
            "spark.execute_s": total("spark.execute"),
            "spark.collect_s": total("spark.collect"),
            "spark.result_rows": per_pass_median(
                traced, lambda o: float(sum(self.result_rows.get(i, 0) for i in o))
            ),
        }


class StreamWorkload(Workload):
    # the second call is still well above the steady drain time, and
    # measuring it spread 0.23 (IQR/median) over ten seeds against 0.15
    # after one more untimed call
    warmup_passes = 1
    drains_per_call = 3

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.listener = None
        self.progress: dict[int, list[dict]] = {}
        self.rates: dict[int, dict] = {}

    def setup(self, spark, setup_dir: str) -> None:
        # the progress listener feeds the drained-row check, so it is on in
        # both modes
        self.listener = eventlog.ProgressListener()
        spark.streams.addListener(self.listener)

    def prepare(self, spark) -> None:
        self.checker = checks.Checker(checks.StreamOracle, SF_DIR)

    def pass_ops(self) -> list[str]:
        return ["streaming_throughput"]

    def run(self, spark, op: str):
        from parquet_to_csv_spark.streaming import stream

        return stream.streaming_throughput(spark, SF_DIR)

    def run_traced(self, spark, op: str, op_id: int, tracer):
        tag(spark, op_id, "stream")
        return self.run(spark, op)

    def check(self, op: str, result, op_id: int) -> None:
        progress = self.listener.take(self.drains_per_call)
        self.progress[op_id], self.rates[op_id] = progress, result
        self.checker.check(result, eventlog.drained_rows(progress))

    def cleanup(self, spark, op: str, result) -> None:
        # an operation that raised before its check leaves its finished
        # queries behind; the next operation's check must not take them
        self.listener.discard()

    def rows(self, op: str, result) -> int:
        return result["rows"] * self.drains_per_call

    def layer_metrics(self, traced, spans):
        ops = [op for p in traced for op in p if op in self.progress]

        def med(fn) -> float:
            return float(statistics.median(fn(self.progress[i]) for i in ops)) if ops else 0.0

        def dur(key):
            return med(lambda ps: sum(p["duration_ms"].get(key, 0) for p in ps))

        def final_state(ps, field, agg):
            last = {}
            for p in ps:
                if p["state"]:
                    last[p["id"]] = p["state"]
            return agg([s[field] for st in last.values() for s in st] or [0])

        def rate(key):
            return float(statistics.median(self.rates[i][key] for i in ops)) if ops else 0.0

        return {
            "streaming.batches": med(len),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.state_rows": med(lambda ps: final_state(ps, "rows", sum)),
            "streaming.state_memory_bytes": med(lambda ps: final_state(ps, "memory", max)),
            "streaming.state_commit_ms": med(
                lambda ps: sum(s["commit_ms"] for p in ps for s in p["state"])
            ),
            "streaming.stateless_rows_per_s": rate("stateless_rows_per_sec"),
            "streaming.window_agg_rows_per_s": rate("window_agg_rows_per_sec"),
            "streaming.dedup_rows_per_s": rate("dedup_rows_per_sec"),
        }


WORKLOADS = {
    "convert_filtered": (
        "the default convert: scan, mergeSchema, 2000 ms filter and dedup "
        "dominate; ~0.5% of rows reach the CSV sink",
        lambda seed, work: ConvertWorkload(
            seed, work, TreeSpec(n_rows=1_000_000), write_csv=True, write_sqlite=False
        ),
    ),
    "convert_full": (
        "min_duration_ms=0 keeps every row and both sinks write: the "
        "driver-side SQLite load and the CSV writes dominate",
        lambda seed, work: ConvertWorkload(
            seed, work, TreeSpec(n_rows=50_000), write_csv=True, write_sqlite=True,
            min_duration_ms=0,
        ),
    ),
    "registry_tpch": (
        "22 TPC-H and 5 ref queries built and collected: executor-bound, "
        "the bypass for driver-loop changes",
        lambda seed, work: RegistryWorkload(seed, work, TPCH_QUERIES),
    ),
    "registry_iterative": (
        "iterative and sweep queries whose driver-side rounds and repeated "
        "sub-plans dominate, plus one write-once artifact consumer",
        lambda seed, work: RegistryWorkload(seed, work, ITERATIVE_QUERIES),
    ),
    "stream_drain": (
        "streaming_throughput: stateless, window-agg and dedup drains of 4 "
        "micro-batches each through the state store",
        lambda seed, work: StreamWorkload(seed, work),
    ),
}
