"""Traced-run instrumentation, installed from the benchmark's side.

DataFrames are lazy, so spans go on the calls that run Spark actions:

- ``tableio.ParquetTableIO.write`` / ``replace``, one checkpoint write
  each, timed and counted with the bytes they leave;
- ``plans.crawl.tree_build_filter``, the seen-filter build (``crawl``
  imports it by name, so the patch goes on that module's attribute).

``ParquetTableIO.read`` calls are counted, and ``tableio.retry_call`` is
wrapped to count write attempts.

Each write runs under a Spark job group ``c<crawl>:<layer>`` named after
the table it writes; every other job of a crawl falls under
``c<crawl>:other``. The event log then gives task metrics per layer
(``eventlog.py``).
"""

from __future__ import annotations

import os
import time
from typing import Dict

LAYERS = ("fetch", "enqueue", "frontier", "absorb", "other")
COUNTERS = ("write_calls", "write_s", "read_calls", "bytes_written", "write_retries")


def table_layer(name: str) -> str:
    if name.startswith("fetched_"):
        return "fetch"
    if name.startswith("enqueue_"):
        return "enqueue"
    if name == "frontier":
        return "frontier"
    return "other"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class Tracer:
    """Patches the layer entry points while in use (``with tracer:``) and
    keeps per-crawl tableio counters. ``begin(k)`` starts crawl ``k``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.crawl = -1
        self.counters: Dict[str, float] = {}
        self._saved: list = []

    def begin(self, crawl: int) -> None:
        self.crawl = crawl
        self.counters = {c: 0 for c in COUNTERS}
        self._set_group("other")

    def end(self) -> None:
        self.sc.setJobGroup("untraced", "untraced")

    def _set_group(self, layer: str) -> None:
        self.sc.setJobGroup(f"c{self.crawl}:{layer}", layer)

    def _span(self, layer: str, fn, *args, **kwargs):
        self._set_group(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self._set_group("other")

    def __enter__(self) -> "Tracer":
        from go_crawler_spark import tableio
        from go_crawler_spark.plans import crawl

        pio = tableio.ParquetTableIO
        orig_write, orig_replace, orig_read = pio.write, pio.replace, pio.read
        orig_retry, orig_tree = tableio.retry_call, crawl.tree_build_filter
        tr = self

        def timed_write(orig):
            def wrapper(io, df, name, *args, **kwargs):
                t0 = time.perf_counter()
                out = tr._span(table_layer(name), orig, io, df, name, *args, **kwargs)
                tr.counters["write_s"] += time.perf_counter() - t0
                tr.counters["write_calls"] += 1
                tr.counters["bytes_written"] += dir_bytes(io._path(name))
                return out
            return wrapper

        def read(io, *names):
            tr.counters["read_calls"] += 1
            return orig_read(io, *names)

        def retry_call(action, cfg, *args, **kwargs):
            attempts = 0

            def counted():
                nonlocal attempts
                attempts += 1
                return action()

            try:
                return orig_retry(counted, cfg, *args, **kwargs)
            finally:
                tr.counters["write_retries"] += max(attempts - 1, 0)

        def tree_build_filter(*args, **kwargs):
            return tr._span("absorb", orig_tree, *args, **kwargs)

        self._saved = [
            (pio, "write", orig_write), (pio, "replace", orig_replace),
            (pio, "read", orig_read), (tableio, "retry_call", orig_retry),
            (crawl, "tree_build_filter", orig_tree),
        ]
        pio.write = timed_write(orig_write)
        pio.replace = timed_write(orig_replace)
        pio.read = read
        tableio.retry_call = retry_call
        crawl.tree_build_filter = tree_build_filter
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, orig in self._saved:
            setattr(owner, attr, orig)
        self._saved = []
        self.end()
