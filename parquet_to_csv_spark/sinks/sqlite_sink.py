"""SQLite sink — S6 of SURVEY.md §2.1.

The reference creates ``trace(UID TEXT PRIMARY KEY, <col> INTEGER|TEXT
...)`` from the unified schema and inserts row-by-row with a VACUUM
every 1000 rows (``/root/reference/main.js:257-377``) — the
anti-pattern list of SURVEY.md §4. Engine approach:

- The plan projects the synthetic ``UID`` with Spark's ``uuid()`` (P6,
  shared with ``operators/refpipe.with_row_uid``), so rows arrive on the
  driver already in table column order and go to SQLite as they are:
  no per-row Python.
- ``toLocalIterator`` streams a partition at a time to the driver,
  prefetching the next one (a full ``toArrow()``/``collect()`` would materialize the entire
  result and OOM on large outputs); fixed-size ``islice`` chunks feed
  ``executemany``, which releases the GIL while SQLite inserts. SQLite
  is a single-file database — ANY writer is ultimately one node, so a
  driver-side load is not a scale compromise relative to the sink
  itself; the Spark plan upstream (scan/filter/dedup) still runs
  distributed.
- A rerun is atomic: ``DROP`` → ``CREATE`` → inserts run in one explicit
  transaction, so a failure mid-stream rolls back to the previous good
  table instead of leaving it dropped or half-filled.

Type discipline per the reference (``main.js:287-301``): NUMBER_KEYS →
INTEGER, everything else TEXT; synthetic ``UID`` primary key
(``main.js:296-297``). No per-row prepare/finalize, no VACUUM churn.
"""

from __future__ import annotations

import sqlite3
from itertools import islice

from pyspark.sql import DataFrame

from parquet_to_csv_spark.functions.trace import NUMBER_KEYS
from parquet_to_csv_spark.operators.refpipe import with_row_uid

# rows per executemany call: bounds the driver's chunk, not the transaction
BATCH_ROWS = 5_000


def _sqlite_type(col: str) -> str:
    return "INTEGER" if col in NUMBER_KEYS else "TEXT"


def write_sqlite(df: DataFrame, db_path: str, table: str = "trace") -> int:
    """Replace ``table`` in ``db_path`` with ``df`` plus a ``UID`` key,
    using the reference's type map. Returns the row count written; on
    failure the previous table is left as it was."""
    cols = df.columns
    ddl_cols = ", ".join(f'"{c}" {_sqlite_type(c)}' for c in cols)
    insert = f'INSERT INTO "{table}" VALUES ({", ".join(["?"] * (len(cols) + 1))})'

    con = sqlite3.connect(db_path, isolation_level=None)
    try:
        con.execute("BEGIN")
        con.execute(f'DROP TABLE IF EXISTS "{table}"')
        con.execute(f'CREATE TABLE "{table}" (UID TEXT PRIMARY KEY, {ddl_cols})')
        rows = with_row_uid(df).select("UID", *cols).toLocalIterator(prefetchPartitions=True)
        n = 0
        # tuple(): sqlite3 would read a Row (a tuple subclass) through its
        # Python-level __getitem__, one call per value, and a Row also
        # carries its field names, so a chunk of tuples is smaller too
        while chunk := list(map(tuple, islice(rows, BATCH_ROWS))):
            con.executemany(insert, chunk)
            n += len(chunk)
        con.execute("COMMIT")
        return n
    except BaseException:
        if con.in_transaction:
            con.execute("ROLLBACK")
        raise
    finally:
        con.close()
