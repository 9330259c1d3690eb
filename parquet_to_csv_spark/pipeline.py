"""``convert`` — the reference's one end-to-end pipeline, Spark-first.

Reference lifecycle (SURVEY.md §3): glob parquet tree → per-file decode
→ derive duration_ms → filter >= 2000 ms → (intended) dedup → schema
union + null fill → CSV sink(s) and/or SQLite sink, gated by
``WRITE_CSV`` / ``WRITE_SQLITE`` env flags (``main.js:14-22``), both
off → hard error.

Here the whole thing is ONE declarative plan: mergeSchema scan (S1-S3),
project+filter (P1-P4, pushed down by Catalyst), dropDuplicates (D1,
the only shuffle), then the sinks. With both sinks on, the transformed
relation is persisted once and the two sinks run at the same time: the
parallel CSV writes on the calling thread, the streamed SQLite load
(uuid projection, P6) on a second one. No JSON chunk caches (S7-S9) — a
pushdown-pruned re-scan is cheaper, Spark task commits are already
atomic, and the SQLite load is one transaction.
"""

from __future__ import annotations

import os
from concurrent.futures import Future
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_to_csv_spark.functions.trace import MAX_DURATION_MS, MIN_DURATION_MS
from parquet_to_csv_spark.sinks.csv_sink import write_csv_splits
from parquet_to_csv_spark.sinks.sqlite_sink import write_sqlite
from parquet_to_csv_spark.sources.parquet import read_parquet_tree


def _env_flag(name: str, default: str = "0") -> bool:
    return os.environ.get(name, default).strip().lower() in ("1", "true", "yes")


@dataclass
class ConvertConfig:
    """S11: the reference's env-flag config surface (``.env.template``)."""

    write_csv: bool = field(default_factory=lambda: _env_flag("WRITE_CSV"))
    write_sqlite: bool = field(default_factory=lambda: _env_flag("WRITE_SQLITE"))
    min_duration_ms: int = MIN_DURATION_MS
    max_duration_ms: int = MAX_DURATION_MS
    dedup: bool = True
    # "global" (engine default — strictly stronger) or "per_file": the
    # reference's Set lives inside its per-file loop
    # (/root/reference/main.js:77,156-179), so a byte-for-byte replay of
    # its scoping needs duplicates deduped only WITHIN each input file.
    dedup_scope: str = "global"
    # S7/S8 cross-run materialization (the reference's .raw.cache
    # rehydration, main.js:80-103): when set, the transformed relation
    # is written to this parquet dir and the sinks read the
    # materialization; with reuse_checkpoint=True a later run loads it
    # WITHOUT touching the inputs at all. Parquet (columnar, pruned)
    # replaces the reference's JSON chunk format.
    checkpoint_dir: str | None = None
    reuse_checkpoint: bool = False


def transform(df: DataFrame, cfg: ConvertConfig | None = None) -> DataFrame:
    """The reference's transform stage on a table that already has
    ns-epoch ``start_time``/``end_time`` columns (``main.js:156-179``)."""
    cfg = cfg or ConvertConfig(write_csv=True)
    out = df.withColumn(
        "duration_ms",
        F.expr("(end_time div 1000000) - (start_time div 1000000)"),
    ).filter(F.col("duration_ms") >= F.lit(cfg.min_duration_ms))
    # duration_ms first, like the reference's column reorder (P4).
    out = out.select("duration_ms", *[c for c in df.columns])
    if cfg.dedup:
        if cfg.dedup_scope == "per_file":
            # fold the source file into the dedup key: input_file_name()
            # is captured at the scan (before any exchange), so the
            # distinct runs per (file × row-value) — a cross-file
            # duplicate survives, exactly the reference's semantics.
            out = (
                out.withColumn("_src_file", F.input_file_name())
                .dropDuplicates()
                .drop("_src_file")
            )
        else:
            out = out.dropDuplicates()
    return out


def convert(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    cfg: ConvertConfig | None = None,
) -> dict[str, object]:
    """Full reference pipeline: parquet tree in, CSV/SQLite out."""
    cfg = cfg or ConvertConfig()
    if not cfg.write_csv and not cfg.write_sqlite:
        # main.js:19-22: both sinks disabled is a hard config error.
        raise ValueError("No output format specified: set WRITE_CSV and/or WRITE_SQLITE")

    ckpt_ready = (
        cfg.checkpoint_dir
        and cfg.reuse_checkpoint
        and os.path.exists(os.path.join(cfg.checkpoint_dir, "_SUCCESS"))
    )
    if ckpt_ready:
        # rehydrate a previous run's materialization (S7/S8): inputs
        # are not read at all — the reference's cache-restart semantics.
        cooked = spark.read.parquet(cfg.checkpoint_dir)
    else:
        raw = read_parquet_tree(spark, input_dir)
        cooked = transform(raw, cfg)
        if cfg.checkpoint_dir:
            cooked.write.mode("overwrite").parquet(cfg.checkpoint_dir)
            cooked = spark.read.parquet(cfg.checkpoint_dir)

    # S7/S8 done right: the reference's JSON chunk caches existed to
    # avoid re-decoding when multiple consumers read the transform
    # output. With one consumer we just recompute the pruned scan; with
    # both sinks on, persist the transformed relation across the fan-out
    # (unless it is already materialized to a checkpoint dir).
    fan_out = cfg.write_csv and cfg.write_sqlite and not cfg.checkpoint_dir
    if fan_out:
        cooked = cooked.persist()
    try:
        result: dict[str, object] = {}
        db_path = os.path.join(output_dir, "database.db")
        if cfg.write_sqlite:
            # the CSV path mkdirs implicitly through Spark's committer; a
            # SQLite-only run must create the output dir itself
            # (sqlite3.connect does not create parent directories)
            os.makedirs(output_dir, exist_ok=True)
            result["sqlite_path"] = db_path
        # UID is added inside the SQLite sink (P6), like the reference (main.js:342).
        if not cfg.write_csv:
            result["sqlite_rows"] = write_sqlite(cooked, db_path)
        elif not cfg.write_sqlite:
            result["csv"] = write_csv_splits(
                cooked, output_dir, long_threshold_ms=cfg.max_duration_ms
            )
        else:
            # Both sinks at once: the SQLite load is driver-side Python and
            # sqlite3 (which releases the GIL while inserting), the CSV
            # writes are executor work. Spark's block locks keep the
            # persisted relation from being computed twice, and an
            # InheritableThread carries the job description and group over.
            loaded: Future = Future()

            def load() -> None:
                try:
                    loaded.set_result(write_sqlite(cooked, db_path))
                except BaseException as e:
                    loaded.set_exception(e)

            loader = InheritableThread(target=load)
            loader.start()
            try:
                result["csv"] = write_csv_splits(
                    cooked, output_dir, long_threshold_ms=cfg.max_duration_ms
                )
            finally:
                loader.join()
            result["sqlite_rows"] = loaded.result()
        return result
    finally:
        if fan_out:
            cooked.unpersist()
