"""Tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog, metrics  # noqa: E402

CANNED = os.path.join(HERE, "testdata")


def test_event_files_in_write_order():
    files = eventlog.event_files(CANNED)
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1"]


def test_stage_job_group_attribution():
    stats = eventlog.load_group_stats(CANNED)
    assert set(stats) == {"c0:fetch", "c0:enqueue", eventlog.UNGROUPED}

    fetch = stats["c0:fetch"]
    # stage 1 is listed by jobs 0 and 1: it belongs to job 0's group
    assert (fetch.jobs, fetch.tasks) == (1, 3)
    assert fetch.run_s == pytest.approx(2.3)
    assert fetch.cpu_s == pytest.approx(0.7)
    assert fetch.gc_s == pytest.approx(0.04)
    assert fetch.shuffle_write_bytes == 800
    assert fetch.shuffle_read_bytes == 800  # remote 200 + local 600
    assert fetch.spill_bytes == 64

    enqueue = stats["c0:enqueue"]
    # a failed task's metrics count: its time was spent
    assert (enqueue.jobs, enqueue.tasks) == (1, 2)
    assert enqueue.run_s == pytest.approx(0.4)
    assert enqueue.shuffle_read_bytes == 80

    # a job without a group, and a stage no job lists; a task end without
    # metrics is skipped
    other = stats[eventlog.UNGROUPED]
    assert (other.jobs, other.tasks) == (1, 2)
    assert other.run_s == pytest.approx(0.15)


def test_python_sql_metrics():
    assert eventlog.PY_SENT == "data sent to Python workers"
    assert eventlog.PY_RECV == "data returned from Python workers"
    assert eventlog.PY_RUN == "time to run Python workers"
    stats = eventlog.load_group_stats(CANNED)
    fetch, enqueue = stats["c0:fetch"], stats["c0:enqueue"]
    assert (fetch.py_sent_bytes, fetch.py_recv_bytes) == (1600, 1800)
    assert fetch.py_run_s == pytest.approx(1.4)  # milliseconds -> s
    assert (enqueue.py_sent_bytes, enqueue.py_recv_bytes) == (10, 20)
    assert enqueue.py_run_s == pytest.approx(0.04)
    assert stats[eventlog.UNGROUPED].py_sent_bytes == 0


def test_compressed_event_log_refused(tmp_path):
    d = tmp_path / "eventlog_v2_local-2"
    d.mkdir()
    (d / "events_1_local-2.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        eventlog.load_group_stats(str(tmp_path))


def test_missing_event_log(tmp_path):
    with pytest.raises(FileNotFoundError):
        eventlog.load_group_stats(str(tmp_path))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", [False, True])
def test_metric_registry_matches_benchmark_json(trace):
    spec = _spec()
    assert metrics.registry(trace) == metrics.benchmark_names(spec, trace)
    key = "per_layer" if trace else "end_to_end"
    registered = {n: b for n, _u, b in
                  (metrics.PER_LAYER if trace else metrics.END_TO_END)}
    assert {m["name"]: m["better"] for m in spec[key]} == registered


def test_workloads_match_benchmark_json():
    from perfbench.workloads import workloads

    assert [w["name"] for w in _spec()["workloads"]] == list(workloads(4))


def test_name_drift_is_reported():
    spec = _spec()
    values = {n: 1.0 for n in metrics.registry(False)}
    assert metrics.check_names(spec, False, values) == []
    drifted = dict(values, crawl_seconds=1.0)
    del drifted["crawl_s"]
    problems = metrics.check_names(spec, False, drifted)
    assert any("crawl_s" in p for p in problems)
    assert any("crawl_seconds" in p for p in problems)
    renamed = json.loads(json.dumps(spec))
    renamed["end_to_end"][1]["name"] = "crawl_seconds"
    assert metrics.check_names(renamed, False, values)


def test_result_line_shape():
    units = metrics.registry(False)
    values = {n: 0.5 for n in units}
    line = metrics.result_line(True, 3, 0, values, units)
    assert "\n" not in line
    out = json.loads(line)
    assert list(out) == ["correct", "attempted", "failed", "metrics"]
    assert list(out["metrics"]) == list(units)
    assert out["metrics"]["crawl_s"] == {"value": 0.5, "unit": "s"}
