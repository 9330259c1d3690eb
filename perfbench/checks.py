"""Output checks. Every operation's result is checked; a mismatch counts
as a failed operation, exactly like an exception.

- convert: DuckDB recomputes the pipeline over the generated tree
  (``union_by_name``, integer-division duration, filter, distinct) and
  the full CSV, the long CSV and the SQLite rows (``UID`` excluded) must
  equal it as multisets.
- registry: each result must match its DuckDB ``ORACLES`` entry under
  ``tools/check.py``'s own ``compare()`` (column names, row count,
  realized pandas dtypes, values).
- stream: drained rows and state-row counts must equal DuckDB counts
  over the same ``events`` table.

The oracles are built in, and every check runs in, a separate checker
process (:class:`Checker`), so their memory stays out of ``peak_rss_mb``.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import pickle
import sqlite3
import subprocess
import sys

import pandas as pd

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONVERT_COLS = {
    "duration_ms": "BIGINT",
    "event_id": "BIGINT",
    "user_id": "BIGINT",
    "event_type": "VARCHAR",
    "value": "DOUBLE",
    "start_time": "BIGINT",
    "end_time": "BIGINT",
}


TYPED_COLS = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in CONVERT_COLS.items())


class CheckFailed(Exception):
    """An operation ran but its output is wrong."""


# ---------------------------------------------------------------- convert


class ConvertOracle:
    """The expected ``convert`` result for one input tree, held in DuckDB."""

    def __init__(self, input_root: str, min_duration_ms: int, long_threshold_ms: int):
        import duckdb

        self.con = duckdb.connect()
        self.long_threshold_ms = long_threshold_ms
        self.con.execute(
            f"""
            CREATE TABLE expected AS
            SELECT DISTINCT
              (end_time // 1000000) - (start_time // 1000000) AS duration_ms,
              event_id, user_id, event_type, value, start_time, end_time
            FROM read_parquet('{input_root}/**/*.parquet', union_by_name = true)
            WHERE (end_time // 1000000) - (start_time // 1000000) >= {int(min_duration_ms)}
            """
        )
        self.rows_in = self.con.execute(
            f"SELECT count(*) FROM read_parquet('{input_root}/**/*.parquet', union_by_name = true)"
        ).fetchone()[0]
        self.rows_out = self.con.execute("SELECT count(*) FROM expected").fetchone()[0]

    def _diff(self, got: str, where: str = "TRUE") -> tuple[int, int]:
        cols = ", ".join(CONVERT_COLS)
        exp = f"SELECT {cols} FROM expected WHERE {where}"
        missing = self.con.execute(
            f"SELECT count(*) FROM ({exp} EXCEPT ALL SELECT {cols} FROM {got})"
        ).fetchone()[0]
        extra = self.con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL {exp})"
        ).fetchone()[0]
        return missing, extra

    def _check_csv(self, csv_dir: str, where: str, label: str) -> None:
        parts = glob.glob(os.path.join(csv_dir, "*.csv"))
        if not parts:
            raise CheckFailed(f"{label}: no CSV part files under {csv_dir}")
        self.con.execute(
            f"""CREATE OR REPLACE TEMP VIEW got AS SELECT {TYPED_COLS}
            FROM read_csv({parts!r}, header = true, all_varchar = true,
                          union_by_name = true)"""
        )
        missing, extra = self._diff("got", where)
        if missing or extra:
            raise CheckFailed(f"{label}: {missing} expected rows missing, {extra} unexpected rows")

    def check(self, result: dict) -> None:
        """Raise :class:`CheckFailed` unless ``convert()``'s outputs are right."""
        if "csv" in result:
            self._check_csv(result["csv"]["full"], "TRUE", "full CSV")
            self._check_csv(
                result["csv"]["long"],
                f"duration_ms >= {self.long_threshold_ms}",
                "long CSV",
            )
        if "sqlite_path" in result:
            if result["sqlite_rows"] != self.rows_out:
                raise CheckFailed(
                    f"sqlite: sink reported {result['sqlite_rows']} rows, expected {self.rows_out}"
                )
            con = sqlite3.connect(result["sqlite_path"])
            try:
                cols = ", ".join(f'"{c}"' for c in CONVERT_COLS)
                rows = con.execute(f"SELECT {cols} FROM trace").fetchall()
            finally:
                con.close()
            frame = pd.DataFrame(
                [[None if v is None else str(v) for v in r] for r in rows],
                columns=list(CONVERT_COLS),
                dtype=object,
            )
            self.con.register("sqlite_rows", frame)
            self.con.execute(
                f"CREATE OR REPLACE TEMP VIEW got AS SELECT {TYPED_COLS} FROM sqlite_rows"
            )
            missing, extra = self._diff("got")
            self.con.unregister("sqlite_rows")
            if missing or extra:
                raise CheckFailed(f"sqlite: {missing} expected rows missing, {extra} unexpected rows")


# --------------------------------------------------------------- registry


def tools_check():
    """The checkout's ``tools/check.py``: its ``duck_con`` and ``compare``
    are the registry check, used as they are rather than copied."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_tools_check", os.path.join(CHECKOUT, "tools", "check.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class RegistryOracle:
    """Expected results per query, from the DuckDB oracles."""

    def __init__(self, sf_dir: str, names: list[str]):
        from parquet_to_csv_spark.plans.registry import ORACLES

        self.tool = tools_check()
        con = self.tool.duck_con(sf_dir)
        try:
            self.expected = {name: con.execute(ORACLES[name]).fetchdf() for name in names}
        finally:
            con.close()

    def check(self, name: str, got: pd.DataFrame) -> None:
        problems = self.tool.compare(name, got, self.expected[name])
        if problems:
            raise CheckFailed(f"{name}: " + "; ".join(problems))


# ----------------------------------------------------------------- stream


class StreamOracle:
    """DuckDB counts for one ``streaming_throughput`` call."""

    def __init__(self, sf_dir: str):
        import duckdb

        con = duckdb.connect()
        ev = f"read_parquet('{sf_dir}/events.parquet')"
        try:
            self.rows, self.distinct_ids = con.execute(
                f"SELECT count(*), count(DISTINCT event_id) FROM {ev}"
            ).fetchone()
            # window state left after the final watermark (max event time
            # minus the 1 hour delay) has evicted every closed window
            self.window_groups = con.execute(
                f"""SELECT count(*) FROM (
                      SELECT DISTINCT time_bucket(INTERVAL 1 HOUR, ts) AS w, event_type
                      FROM {ev}) g,
                    (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM {ev}) m
                    WHERE g.w + INTERVAL 1 HOUR > m.wm"""
            ).fetchone()[0]
        finally:
            con.close()

    def check(self, result: dict, drained: list[int]) -> None:
        """``drained``: input rows each of the call's drains consumed."""
        problems = []
        if result["rows"] != self.rows:
            problems.append(f"staged rows {result['rows']} != {self.rows}")
        if drained != [self.rows] * 3:
            problems.append(f"drained rows {drained} != 3 x {self.rows}")
        if result["dedup_state_rows"] != self.distinct_ids:
            problems.append(f"dedup state rows {result['dedup_state_rows']} != {self.distinct_ids}")
        if result["window_agg_state_rows"] != self.window_groups:
            problems.append(
                f"window state rows {result['window_agg_state_rows']} != {self.window_groups}"
            )
        if problems:
            raise CheckFailed("; ".join(problems))


# ---------------------------------------------------------------- process


class Checker:
    """A child process (``python3 -m perfbench.checks``) that builds one
    oracle, ``factory(*args)``, and runs its checks; requests and replies
    are pickled over the child's stdin and stdout. Its memory is left out
    of ``peak_rss_mb``. A check that fails raises :class:`CheckFailed`
    here, in the caller."""

    def __init__(self, factory, *args) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.checks"],
            cwd=CHECKOUT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        self.pid = self._proc.pid
        try:
            self._call("build", (factory, args))
        except BaseException:
            self.close()
            raise

    def _call(self, op: str, args: tuple):
        pickle.dump((op, args), self._proc.stdin)
        self._proc.stdin.flush()
        ok, value = pickle.load(self._proc.stdout)
        if not ok:
            raise value
        return value

    def check(self, *args) -> None:
        """Run the oracle's ``check(*args)``."""
        self._call("check", args)

    def counts(self) -> tuple[int, int]:
        """``(rows_in, rows_out)`` of a :class:`ConvertOracle`."""
        return self._call("counts", ())

    def close(self) -> None:
        self._proc.stdin.close()  # the checker exits at end of input
        self._proc.wait(timeout=60)


def serve(requests, replies) -> None:
    """The checker's loop: answer each request until the input ends."""
    oracle = None
    while True:
        try:
            op, args = pickle.load(requests)
        except EOFError:
            return
        try:
            if op == "build":
                factory, factory_args = args
                oracle = factory(*factory_args)
                reply = (True, None)
            elif op == "check":
                oracle.check(*args)
                reply = (True, None)
            else:
                reply = (True, (oracle.rows_in, oracle.rows_out))
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            reply = (False, e if isinstance(e, CheckFailed) else CheckFailed(f"{type(e).__name__}: {e}"))
        pickle.dump(reply, replies)
        replies.flush()


if __name__ == "__main__":
    replies = sys.stdout.buffer
    sys.stdout = sys.stderr  # nothing else may write to the reply pipe
    # the imported module's loop, not this __main__ copy's: the oracles
    # raise perfbench.checks.CheckFailed, which the caller unpickles
    from perfbench.checks import serve as serve_requests

    serve_requests(sys.stdin.buffer, replies)
