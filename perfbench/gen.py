"""Seeded generator for the ``convert`` input trees.

A tree is ``n_files`` Parquet files spread over nested directories, in
two schema variants so ``mergeSchema`` has to null-fill:

- variant ``a``: event_id, user_id, event_type, value, start_time, end_time
- variant ``b``: event_id, user_id, event_type, start_time, end_time

``start_time``/``end_time`` are ns-epoch int64 values, as the reference
pipeline expects. Durations are exponential with a mean chosen so the
requested share of rows clears ``min_duration_ms``. About ``dup_frac`` of
the rows are exact copies of another row of the same variant (half from
the same file, half from an earlier file), which the pipeline's
``dropDuplicates`` must remove.

Same ``(seed, n_rows, n_files, ...)`` → byte-identical files. The
program under test receives only the files; the returned summary is what
the benchmark records about them.
"""

from __future__ import annotations

import math
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_NS = 1_700_000_000 * 10**9
EVENT_TYPES = ["click", "view", "purchase", "scroll", "hover", "login", "logout"]


@dataclass(frozen=True)
class TreeSpec:
    n_rows: int
    n_files: int = 16
    dup_frac: float = 0.05
    # share of rows whose duration clears min_duration_ms (before dedup)
    keep_frac: float = 0.005
    min_duration_ms: int = 2000


def _durations_ns(rng: np.random.Generator, n: int, spec: TreeSpec) -> np.ndarray:
    # exponential tail: P(d >= m) = exp(-m / mean)  =>  mean = m / -ln(p)
    mean_ms = spec.min_duration_ms / -math.log(spec.keep_frac)
    return (rng.exponential(mean_ms, n) * 1e6).astype(np.int64)


def _file_table(rng: np.random.Generator, n: int, first_id: int,
                variant: str, spec: TreeSpec) -> pa.Table:
    start = EPOCH_NS + rng.integers(0, 86_400 * 10**9, n, dtype=np.int64)
    cols = {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": rng.integers(1, 50_000, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), n)
        ],
    }
    if variant == "a":
        # multiples of 1/1000 round-trip exactly through every sink's text form
        cols["value"] = rng.integers(0, 10_000_000, n) / 1000.0
    cols["start_time"] = start
    cols["end_time"] = start + _durations_ns(rng, n, spec)
    return pa.table(cols)


def _file_path(root: str, i: int) -> str:
    # recursive layout: depth 1..3 so the recursive lookup is exercised
    parts = [f"d{i % 4}"] + [f"s{i % 3}"] * (i % 3 > 0) + [f"t{i % 2}"] * (i % 5 == 0)
    return os.path.join(root, *parts, f"part-{i:03d}.parquet")


def generate_tree(root: str, seed: int, spec: TreeSpec) -> dict:
    """Write the tree under ``root`` and return its summary."""
    rng = np.random.default_rng(seed)
    per_file = [spec.n_rows // spec.n_files] * spec.n_files
    per_file[-1] += spec.n_rows - sum(per_file)
    last_of_variant: dict[str, pa.Table] = {}
    next_id = 1
    n_dups = 0
    total_bytes = 0
    for i, n in enumerate(per_file):
        variant = "ab"[i % 2]
        n_dup = int(n * spec.dup_frac)
        base = _file_table(rng, n - n_dup, next_id, variant, spec)
        next_id += n - n_dup
        # half the duplicates copy rows of this file, half of the previous
        # file of the same variant (a cross-file duplicate)
        donors = [base, last_of_variant.get(variant, base)]
        picks = [
            d.take(rng.integers(0, d.num_rows, k))
            for d, k in zip(donors, (n_dup - n_dup // 2, n_dup // 2))
        ]
        table = pa.concat_tables([base, *picks])
        table = table.take(rng.permutation(table.num_rows))
        n_dups += n_dup
        last_of_variant[variant] = base
        path = _file_path(root, i)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
        total_bytes += os.path.getsize(path)
    return {
        "seed": seed,
        **asdict(spec),
        "variants": 2,
        "rows": spec.n_rows,
        "dup_rows": n_dups,
        "input_bytes": total_bytes,
    }


def parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )
