"""Spans recorded from the benchmark's side of each layer boundary.

A span is ``{name, start, end, parent, op}``; spans are kept in memory
and written as JSON when the run ends. Layer boundaries are the public
functions of the program's modules: :func:`Tracer.patch` replaces a
function by a recording wrapper in every loaded module that holds it,
so calls made from inside the program (``convert`` calling
``write_sqlite``) are seen too. The wrappers record only while a traced
operation is open; otherwise they pass straight through.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

# (module, function, span name) for every layer boundary the traced run records
LAYER_FUNCTIONS = [
    ("parquet_to_csv_spark.sources.parquet", "read_parquet_tree", "sources.parquet.read"),
    ("parquet_to_csv_spark.sources.tables", "load_table", "sources.tables.load_table"),
    ("parquet_to_csv_spark.sources.layout", "claim_artifact", "sources.layout.claim_artifact"),
    ("parquet_to_csv_spark.pipeline", "transform", "pipeline.transform"),
    ("parquet_to_csv_spark.pipeline", "convert", "pipeline.convert"),
    ("parquet_to_csv_spark.sinks.csv_sink", "write_csv_splits", "sinks.csv_sink"),
    ("parquet_to_csv_spark.sinks.sqlite_sink", "write_sqlite", "sinks.sqlite_sink"),
    ("parquet_to_csv_spark.streaming.stream", "streaming_throughput", "streaming.stream"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @property
    def active(self) -> bool:
        return self.op is not None

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block, nested under the open span."""
        if not self.active:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextmanager
    def operation(self, op_id: int, name: str):
        """Open the root span of one traced operation."""
        self.op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self.op = None

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module_name: str, attr: str, span_name: str) -> None:
        """Wrap ``module.attr`` everywhere it is bound in loaded modules."""
        original = getattr(importlib.import_module(module_name), attr)
        traced = self.wrap(original, span_name)
        for mod in list(sys.modules.values()):
            namespace = getattr(mod, "__dict__", None)
            if not namespace:
                continue
            for key, value in list(namespace.items()):
                if value is original:
                    setattr(mod, key, traced)

    def patch_layers(self) -> None:
        for module_name, attr, span_name in LAYER_FUNCTIONS:
            self.patch(module_name, attr, span_name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - covered(s["start"], s["end"], children.get(i, []))
        for i, s in enumerate(spans)
    ]


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


def child_coverage(spans: list[dict]) -> list[float]:
    """For every root span: the share of its wall time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        covered(s["start"], s["end"], children.get(i, [])) / (s["end"] - s["start"])
        for i, s in enumerate(spans)
        if s["parent"] is None and s["end"] > s["start"]
    ]
