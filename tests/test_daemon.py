"""``build_spark`` forks Python workers from ``ontocast_spark.daemon``,
which preloads pyarrow, pandas and the kernels and freezes them out of
the garbage collector, and never breaks a session that works without
it.

The session fixture reuses its workers, so the fresh-worker case
(``spark.python.worker.reuse=false``, the benchmark's setting), a
driver started outside the repository, a failing preload and the
default core count each run in a driver subprocess of their own."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _task_start_reports(spark, tasks=2):
    """What each ``mapInArrow`` task's worker had loaded when the task
    started, before the task imported anything."""

    def report(batches):  # nested: pickled by value, not by this module
        import gc
        import json
        import sys

        import pyarrow as pa

        spec = getattr(sys.modules["__main__"], "__spec__", None)
        seen = {
            "main": spec.name if spec else None,
            "pandas": sys.modules.get("pandas") is not None,
            "construct": sys.modules.get("ontocast_spark.kernels.construct") is not None,
            "frozen": gc.get_freeze_count() > 0,
        }
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"report": [json.dumps(seen)]})

    df = spark.range(tasks).repartition(tasks).mapInArrow(report, "report string")
    return [json.loads(r.report) for r in df.collect()]


def test_workers_fork_from_preloading_daemon(spark):
    reports = _task_start_reports(spark)
    assert reports
    for report in reports:
        assert report == {"main": "ontocast_spark.daemon", "pandas": True,
                          "construct": True, "frozen": True}


# A driver that finds the package only through its own sys.path, as
# scripts/driver_emu.py does, run from another directory with
# SPARK_GRAFT_CPUS and PYTHONPATH unset. argv: repo root, then a JSON
# object of extra confs.
DRIVER = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from ontocast_spark.session import build_spark
sys.path.insert(0, os.path.join(sys.argv[1], "tests"))
from test_daemon import _task_start_reports

spark = build_spark(app_name="daemon-probe", extra_conf=json.loads(sys.argv[2]))
double = F.udf(lambda x: 2 * x, "long")
out = {
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "udf": sorted(r[0] for r in spark.range(4).select(double("id")).collect()),
    "tasks": _task_start_reports(spark),
}
spark.stop()
print("REPORT " + json.dumps(out))
"""


def _run_driver(cwd, extra_conf):
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "PYTHONPATH")}
    out = subprocess.run(
        [sys.executable, "-c", DRIVER, str(ROOT), json.dumps(extra_conf)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    reports = [line for line in out.stdout.splitlines() if line.startswith("REPORT ")]
    assert out.returncode == 0 and reports, out.stderr[-4000:]
    return json.loads(reports[-1][len("REPORT "):]), out.stderr


@pytest.fixture(scope="module")
def fresh_worker_driver(tmp_path_factory):
    return _run_driver(tmp_path_factory.mktemp("driver"),
                       {"spark.python.worker.reuse": "false"})[0]


def test_driver_outside_repo_runs_lambda_udf(fresh_worker_driver):
    assert fresh_worker_driver["udf"] == [0, 2, 4, 6]


def test_fresh_workers_start_preloaded(fresh_worker_driver):
    tasks = fresh_worker_driver["tasks"]
    assert tasks
    for report in tasks:
        assert report == {"main": "ontocast_spark.daemon", "pandas": True,
                          "construct": True, "frozen": True}


def test_default_master_uses_available_cpus(fresh_worker_driver):
    cpus = len(os.sched_getaffinity(0))
    assert fresh_worker_driver["master"] == f"local[{cpus}]"
    assert fresh_worker_driver["shuffle_partitions"] == str(max(cpus, 8))


# Spark's daemon module for the test below: ontocast_spark.daemon run as
# __main__, with the task module's import made to raise.
RAISING_DAEMON = """
import runpy, sys
sys.modules["ontocast_spark.kernels.construct"] = None  # importing it raises
runpy.run_module("ontocast_spark.daemon", run_name="__main__", alter_sys=True)
"""


def test_failing_preload_still_serves_tasks(tmp_path):
    (tmp_path / "raising_daemon.py").write_text(RAISING_DAEMON)
    report, stderr = _run_driver(tmp_path, {
        "spark.python.daemon.module": "raising_daemon",
        "spark.executorEnv.PYTHONPATH": str(tmp_path),
    })
    assert "worker preload skipped" in stderr
    assert report["udf"] == [0, 2, 4, 6]
    assert report["tasks"] and not any(t["construct"] for t in report["tasks"])

