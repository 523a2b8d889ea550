"""The benchmark's own tests.

Run from the repository root: ``python3 -m pytest perfbench -q``. The
event-log test takes a second; the contrast self-check makes one traced
run of each listed workload (several minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import run  # noqa: E402


def _plan(node, metrics, children=()):
    return {"nodeName": node, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": i, "metricType": t}
                        for n, i, t in metrics]}


def _task(stage, run_ms, accums, shuffle_bytes=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [{"ID": i, "Update": str(v)} for i, v in accums]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes,
                                                       "Shuffle Write Time": 2_000_000}}}


def test_event_log_attribution():
    plan = _plan("MapInPandas", [
        ("time to run Python workers", 1, "timing"),
        ("time to initialize Python workers", 2, "timing"),
        ("number of output rows", 3, "sum"),
        ("data returned from Python workers", 4, "size"),
    ], [_plan("Sort", [("sort time", 5, "timing"), ("peak memory", 6, "size")])])
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "run0"}},
        # a later job lists the reused stage 2 again: its tasks stay in run0
        {"Event": "SparkListenerJobStart", "Stage IDs": [2, 3],
         "Properties": {"spark.jobGroup.id": "run1"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [4], "Properties": {}},
        _task(1, 10, [], shuffle_bytes=100),
        _task(2, 30, [(1, 25), (2, 5), (3, 7), (4, 512), (5, 3), (6, 2**21)]),
        _task(2, 50, [(1, 45), (2, 6), (3, 8), (4, 512), (5, 4), (6, 2**20)]),
        _task(3, 5, [(99, 1)]),
        _task(4, 5, [(1, 1000)]),  # untagged job: ignored
    ]
    groups = eventlog.group_metrics(events)
    assert set(groups) == {"run0", "run1"}
    r0 = groups["run0"]
    assert (r0["jobs"], r0["tasks"]) == (1, 3)
    assert r0["py_total_ms"] == 70 and r0["py_init_ms"] == 11
    assert r0["rows_out"] == 15 and r0["arrow_recv_bytes"] == 1024
    assert r0["sort_ms"] == 7 and r0["sort_peak_mb"] == 2
    assert (r0["task_max_ms"], r0["task_median_ms"]) == (50, 40)
    assert r0["exchange_bytes"] == 100 and r0["exchange_write_ms"] == 6
    assert r0["gc_ms"] == 3
    r1 = groups["run1"]
    assert (r1["jobs"], r1["tasks"], r1["py_total_ms"]) == (1, 1, 0)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def traced(workload: str, seed: int = 42) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "4", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.slow
def test_workload_contrast():
    """Each layer's metrics move on the workload that exercises it and
    stay at zero on the one that bypasses it. The warehouse write and
    resume and near-duplicate removal run only in the traced ``kg_flat``
    run, cross-document canonicalization only in the traced
    ``kg_megatail`` run."""
    m = {w: traced(w) for w in ("kg_flat", "kg_megatail")}
    # grouping is quadratic in a document's entities: per replayed turn
    # it scores ~10x the pairs on kg_megatail; the warm replay's time per
    # turn measured 2.8-4.4x here
    pairs = {w: m[w]["kernel.pairs_scored"] / m[w]["kernel.turns"] for w in m}
    assert pairs["kg_megatail"] > 5 * pairs["kg_flat"], pairs
    per_turn = {w: m[w]["kernel.group_ms"] / m[w]["kernel.turns"] for w in m}
    assert per_turn["kg_megatail"] > 2 * per_turn["kg_flat"], per_turn
    for layer in ("io.write_ms", "io.resume_ms", "dedup.jobs"):
        assert m["kg_flat"][layer] > 0, layer
        assert m["kg_megatail"][layer] == 0, layer
    assert m["kg_megatail"]["crossdoc.jobs"] > 0
    assert m["kg_flat"]["crossdoc.jobs"] == 0
    for w, metrics in m.items():
        assert metrics["fused.py_total_ms"] > 0, w
        assert set(metrics) == set(run.PER_LAYER), w
