"""End-to-end ``convert``: parquet tree → CSV splits + SQLite sink."""

from __future__ import annotations

import csv
import glob
import os
import re
import sqlite3
import threading
import time

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from parquet_to_csv_spark import pipeline
from parquet_to_csv_spark.pipeline import ConvertConfig, convert
from parquet_to_csv_spark.sinks.sqlite_sink import write_sqlite
from parquet_to_csv_spark.functions.trace import trace_spans
from parquet_to_csv_spark.sources.tables import load_table
from parquet_to_csv_spark.sources.parquet import read_parquet_tree


@pytest.fixture(scope="module")
def span_tree(spark, sf_dir, tmp_path_factory):
    """A parquet tree with real start_time/end_time columns, nested to
    exercise recursiveFileLookup, two files with different schemas to
    exercise mergeSchema."""
    root = str(tmp_path_factory.mktemp("spans"))
    spans = trace_spans(load_table(spark, sf_dir, "events")).drop("duration_ms")
    spans.limit(400).write.parquet(os.path.join(root, "a"))
    spans.drop("props", "value").limit(300).write.parquet(os.path.join(root, "sub/b"))
    return root


def test_convert_csv_and_sqlite(spark, span_tree, tmp_path):
    out = str(tmp_path / "out")
    res = convert(
        spark,
        span_tree,
        out,
        ConvertConfig(write_csv=True, write_sqlite=True),
    )
    # CSV: part files exist with headers
    parts = glob.glob(os.path.join(res["csv"]["full"], "part-*.csv"))
    assert parts
    with open(parts[0]) as f:
        header = next(csv.reader(f))
    assert "duration_ms" in header
    # SQLite: table exists, UID pk, typed columns
    con = sqlite3.connect(res["sqlite_path"])
    cols = con.execute("PRAGMA table_info(trace)").fetchall()
    names = [c[1] for c in cols]
    types = {c[1]: c[2] for c in cols}
    assert names[0] == "UID"
    assert types["duration_ms"] == "INTEGER"
    assert types["event_type"] == "TEXT"
    n = con.execute("SELECT count(*) FROM trace").fetchone()[0]
    assert n == res["sqlite_rows"]
    assert con.execute("SELECT count(*) FROM trace WHERE duration_ms < 2000").fetchone()[0] == 0
    con.close()


UUID4 = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$")


@pytest.fixture
def persisted(spark, monkeypatch):
    """Every DataFrame ``persist()``-ed while the test runs."""
    seen = []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = frame_cls.persist

    def spy(self, *args, **kwargs):
        seen.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", spy)
    return seen


def test_convert_uid_is_unique_canonical_uuid4(spark, span_tree, tmp_path):
    """UID comes from Spark's uuid() in the plan: one canonical,
    lower-case, 36-character version-4 string per row, all distinct."""
    res = convert(spark, span_tree, str(tmp_path / "out"), ConvertConfig(write_csv=True, write_sqlite=True))
    con = sqlite3.connect(res["sqlite_path"])
    uids = [r[0] for r in con.execute("SELECT UID FROM trace")]
    con.close()
    assert len(uids) == res["sqlite_rows"] > 0
    assert len(set(uids)) == len(uids)
    for u in uids:
        assert UUID4.match(u), u


def test_convert_sqlite_failure_raises_and_unpersists(spark, span_tree, tmp_path, monkeypatch, persisted):
    def broken_load(df, db_path):
        raise RuntimeError("sqlite load failed")

    monkeypatch.setattr(pipeline, "write_sqlite", broken_load)
    with pytest.raises(RuntimeError, match="sqlite load failed"):
        convert(spark, span_tree, str(tmp_path / "out"), ConvertConfig(write_csv=True, write_sqlite=True))
    assert persisted, "both sinks on must persist the shared relation"
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)


def test_convert_csv_failure_raises_and_joins_loader(spark, span_tree, tmp_path, monkeypatch, persisted):
    """The CSV error propagates only after the SQLite thread has finished
    its load, and the persisted relation is released."""
    loads = []
    real_load = pipeline.write_sqlite

    def slow_load(df, db_path):
        loads.append(threading.current_thread())
        time.sleep(0.5)
        return real_load(df, db_path)

    def broken_csv(df, out_dir, **kwargs):
        raise RuntimeError("csv write failed")

    monkeypatch.setattr(pipeline, "write_sqlite", slow_load)
    monkeypatch.setattr(pipeline, "write_csv_splits", broken_csv)
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="csv write failed"):
        convert(spark, span_tree, str(out), ConvertConfig(write_csv=True, write_sqlite=True))
    assert len(loads) == 1 and loads[0] is not threading.main_thread()
    assert not loads[0].is_alive()
    con = sqlite3.connect(str(out / "database.db"))
    assert con.execute("SELECT count(*) FROM trace").fetchone()[0] > 0
    con.close()
    assert persisted and all(df.storageLevel == StorageLevel.NONE for df in persisted)


@pytest.mark.parametrize("sinks", [dict(write_csv=True), dict(write_sqlite=True)])
def test_convert_single_sink_runs_inline(spark, span_tree, tmp_path, monkeypatch, persisted, sinks):
    def no_thread(*args, **kwargs):
        raise AssertionError("a single sink must not start a thread")

    monkeypatch.setattr(pipeline, "InheritableThread", no_thread)
    res = convert(spark, span_tree, str(tmp_path / "out"), ConvertConfig(**sinks))
    assert ("csv" in res) == bool(sinks.get("write_csv"))
    assert ("sqlite_rows" in res) == bool(sinks.get("write_sqlite"))
    assert not persisted


def test_sqlite_rerun_failure_keeps_previous_table(spark, tmp_path):
    """A load that fails mid-stream rolls back: the previous good table,
    DROP included, survives untouched."""
    db = str(tmp_path / "database.db")
    good = spark.createDataFrame([(2500, "click"), (3100, "view")], "duration_ms long, event_type string")
    assert write_sqlite(good, db) == 2
    # 4 partitions of 12,500 rows: the first chunks are inserted before
    # the third partition raises
    failing = spark.range(0, 50_000, numPartitions=4).select(
        F.col("id").alias("duration_ms"),
        F.when(F.col("id") == 30_000, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id").cast("string"))
        .alias("event_type"),
    )
    with pytest.raises(Exception, match="boom"):
        write_sqlite(failing, db)
    con = sqlite3.connect(db)
    rows = sorted(con.execute("SELECT duration_ms, event_type FROM trace").fetchall())
    con.close()
    assert rows == [(2500, "click"), (3100, "view")]


def test_convert_requires_a_sink(spark, span_tree, tmp_path):
    with pytest.raises(ValueError):
        convert(spark, span_tree, str(tmp_path), ConvertConfig(write_csv=False, write_sqlite=False))


def test_merge_schema_union(spark, span_tree):
    df = read_parquet_tree(spark, span_tree)
    # merged schema includes columns present in only one file subtree
    assert {"value", "start_time", "end_time"} <= set(df.columns)
    assert df.count() == 700
    # rows from the narrow file are null-filled
    assert df.filter(F.col("value").isNull()).count() == 300


def test_corrupt_file_tolerance(spark, span_tree, tmp_path):
    """S2: a garbage .parquet in the tree is skipped, not fatal
    (`ignoreCorruptFiles`, main.js:122-127 semantics). The JVM logs a
    stack trace to stderr — that noise is the expected behavior."""
    import shutil

    root = str(tmp_path / "tree")
    shutil.copytree(span_tree, root)
    with open(os.path.join(root, "a", "garbage.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    df = read_parquet_tree(spark, root)
    assert df.count() == 700  # the 700 good rows, corrupt file ignored


def test_dedup_scope_per_file_vs_global(spark, sf_dir, tmp_path):
    """D1 scoping option: a duplicate row present in TWO input files
    survives per_file mode (the reference's Set lives inside its
    per-file loop, main.js:77) and dies in global mode; within-file
    duplicates die in both."""
    from parquet_to_csv_spark.pipeline import transform

    root = str(tmp_path / "tree")
    spans = trace_spans(load_table(spark, sf_dir, "events")).drop("duration_ms")
    sample = spans.orderBy("event_id").limit(5)
    # file a: sample + an in-file duplicate of its first row
    first = sample.limit(1)
    first.unionAll(sample).write.parquet(os.path.join(root, "a"))
    # file b: the same first row again (cross-file duplicate)
    first.write.parquet(os.path.join(root, "b"))

    raw = read_parquet_tree(spark, root)
    cfg_g = ConvertConfig(write_csv=True, min_duration_ms=0, dedup_scope="global")
    cfg_f = ConvertConfig(write_csv=True, min_duration_ms=0, dedup_scope="per_file")
    n_global = transform(raw, cfg_g).count()
    n_per_file = transform(raw, cfg_f).count()
    assert n_global == 5          # all duplicates collapse
    assert n_per_file == 6        # cross-file copy survives, in-file dies


def test_checkpoint_rehydration_survives_input_loss(spark, sf_dir, tmp_path):
    """S7/S8 cross-run cache: a run with checkpoint_dir materializes the
    transform; a later run with reuse_checkpoint=True rehydrates it
    without reading the inputs (the reference's .raw.cache restart,
    main.js:80-103)."""
    import shutil

    root = str(tmp_path / "in")
    spans = trace_spans(load_table(spark, sf_dir, "events")).drop("duration_ms")
    spans.limit(200).write.parquet(os.path.join(root, "a"))
    ckpt = str(tmp_path / "ckpt")

    cfg = ConvertConfig(write_csv=True, checkpoint_dir=ckpt)
    out1 = str(tmp_path / "out1")
    res1 = convert(spark, root, out1, cfg)
    parts1 = glob.glob(os.path.join(res1["csv"]["full"], "part-*.csv"))
    n1 = sum(max(0, sum(1 for _ in open(p)) - 1) for p in parts1)

    shutil.rmtree(root)  # inputs gone — rehydration must not need them
    cfg2 = ConvertConfig(write_csv=True, checkpoint_dir=ckpt, reuse_checkpoint=True)
    out2 = str(tmp_path / "out2")
    res2 = convert(spark, root, out2, cfg2)
    parts2 = glob.glob(os.path.join(res2["csv"]["full"], "part-*.csv"))
    n2 = sum(max(0, sum(1 for _ in open(p)) - 1) for p in parts2)
    assert n1 == n2 and n1 > 0


def test_cli_main_env_flags(spark, span_tree, tmp_path, monkeypatch):
    """`python -m parquet_to_csv_spark` surface: argv parsing + S11 env
    flags drive the same convert() pipeline (in-process — get_spark
    reuses the active session)."""
    from parquet_to_csv_spark.__main__ import main

    out = str(tmp_path / "cli_out")
    monkeypatch.setenv("WRITE_CSV", "1")
    monkeypatch.delenv("WRITE_SQLITE", raising=False)
    assert main(["--input", span_tree, "--output", out]) == 0
    parts = glob.glob(os.path.join(out, "**", "part-*.csv"), recursive=True)
    assert parts, "CLI run produced no CSV output"
    with open(parts[0]) as f:
        header = f.readline()
    assert "duration_ms" in header


def test_sqlite_source_roundtrip(spark, span_tree, tmp_path):
    """S12: read back what the sink wrote — full sink→source round
    trip with exact value and type parity (INTEGER→long, TEXT→string,
    NULLs preserved)."""
    from parquet_to_csv_spark.sources.sqlite_source import read_sqlite

    out = str(tmp_path / "out")
    res = convert(spark, span_tree, out, ConvertConfig(write_sqlite=True))
    back = read_sqlite(spark, res["sqlite_path"])
    assert back.count() == res["sqlite_rows"]
    assert dict(back.dtypes)["duration_ms"] == "bigint"
    assert dict(back.dtypes)["event_type"] == "string"
    # UID is unique (the sink's synthetic PK survived)
    assert back.select("UID").distinct().count() == res["sqlite_rows"]
    # value parity on a stable projection: same multiset of
    # (duration_ms, event_type) as the sqlite table itself
    import sqlite3 as _sq

    con = _sq.connect(res["sqlite_path"])
    want = sorted(con.execute("SELECT duration_ms, event_type FROM trace").fetchall())
    con.close()
    got = sorted(
        (r["duration_ms"], r["event_type"])
        for r in back.select("duration_ms", "event_type").collect()
    )
    assert got == want


def test_jsonl_quarantine_split(spark, tmp_path):
    """S13: malformed lines land in quarantine, good lines parse with
    the declared schema, nothing is silently dropped."""
    from parquet_to_csv_spark.sources.parquet import read_jsonl_quarantined

    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"a": 1, "b": "x"}\n'
        "this is not json\n"
        '{"a": 2, "b": "y"}\n'
        '{"a": "NaN-ish", "b": 3}\n'  # wrong types -> corrupt under schema
        '{"a": 3, "b": "z"}\n'
    )
    qdir = str(tmp_path / "quarantine")
    good, bad = read_jsonl_quarantined(
        spark, str(src), "a long, b string", quarantine_dir=qdir
    )
    assert sorted((r["a"], r["b"]) for r in good.collect()) == [
        (1, "x"), (2, "y"), (3, "z"),
    ]
    bad_lines = sorted(r["raw_line"] for r in bad.collect())
    assert len(bad_lines) == 2 and "not json" in bad_lines[0] + bad_lines[1]
    import glob

    qfiles = glob.glob(qdir + "/part-*")
    assert qfiles
    quarantined = sorted(
        ln for f in qfiles for ln in open(f).read().splitlines()
    )
    assert quarantined == bad_lines
