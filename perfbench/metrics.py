"""Metric registry and result output.

The names and units here must equal ``BENCHMARK.json``: ``check_names``
fails the run (and ``test_perfbench.py`` fails the tests) when they
drift. Untraced runs print the end-to-end metrics, traced runs the
per-layer ones.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Tuple

from perfbench.eventlog import FIELDS as SPARK_FIELDS
from perfbench.trace import LAYERS

END_TO_END: List[Tuple[str, str, str]] = [
    ("setup_s", "s", "lower"),
    ("crawl_s", "s", "lower"),
    ("pages_fetched_per_s", "1/s", "higher"),
    ("urls_scheduled_per_s", "1/s", "higher"),
    ("ckpt_bytes_per_url", "B", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

PHASES = ("seeds", "robots", "fetch_extract", "enqueue", "absorb", "frontier",
          "assemble")

_SPARK_UNITS = {"tasks": ("count", "lower"), "run_s": ("s", "lower"),
                "cpu_s": ("s", "lower"), "gc_s": ("s", "lower"),
                "py_run_s": ("s", "lower")}

PER_LAYER: List[Tuple[str, str, str]] = (
    [("trace.crawl_s", "s", "lower"), ("mismatched_rows", "count", "lower")]
    + [(f"crawl.{p}_s", "s", "lower") for p in PHASES]
    + [("crawl.unphased_s", "s", "lower"), ("crawl.rounds", "count", "lower"),
       ("crawl.jobs_per_round", "count", "lower")]
    + [(f"spark.{layer}.{f}", *_SPARK_UNITS.get(f, ("B", "lower")))
       for layer in LAYERS for f in SPARK_FIELDS]
    + [("htmlx.parse_page_cpu_s", "s", "lower"),
       ("htmlx.parser_share", "ratio", "higher")]
    + [("dedup.filter_active_rounds", "count", "lower"),
       ("dedup.filter_candidates", "count", "lower"),
       ("dedup.filter_pruned", "count", "higher"),
       ("dedup.filter_prune_ratio", "ratio", "higher")]
    + [("tableio.write_calls", "count", "lower"),
       ("tableio.write_s", "s", "lower"),
       ("tableio.read_calls", "count", "lower"),
       ("tableio.bytes_written", "B", "lower"),
       ("tableio.write_retries", "count", "lower")]
    + [("politeness.deferred_rows", "count", "lower"),
       ("politeness.max_host_fetches_per_round", "count", "lower")]
    + [("box.nproc", "count", "higher"),
       ("box.cpu_scaling", "ratio", "higher"),
       ("box.membw_scaling", "ratio", "higher"),
       ("box.steal_share", "ratio", "lower")]
)


def registry(trace: bool) -> Dict[str, str]:
    return {n: u for n, u, _b in (PER_LAYER if trace else END_TO_END)}


def benchmark_names(spec: dict, trace: bool) -> Dict[str, str]:
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def check_names(spec: dict, trace: bool, values: Dict[str, float]) -> List[str]:
    """Problems with a result against the spec; empty when it is sound."""
    want = benchmark_names(spec, trace)
    problems = []
    if registry(trace) != want:
        problems.append("metric registry differs from BENCHMARK.json")
    missing = sorted(set(want) - set(values))
    extra = sorted(set(values) - set(want))
    if missing:
        problems.append(f"missing metrics: {missing}")
    if extra:
        problems.append(f"metrics not in BENCHMARK.json: {extra}")
    return problems


def result_line(correct: bool, attempted: int, failed: int,
                values: Dict[str, float], units: Dict[str, str]) -> str:
    """The last stdout line: exactly the four contract keys, metrics in
    registry order, so its size depends only on the values' digits."""
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }, separators=(",", ":"))


def write_report(path: str, report: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)
