"""A Spark Python worker running the fused KG task must not import
pandas: the task body lives in ``kernels/construct.py`` and the package
root is lazy, so unpickling the task loads only the kernels.

Checked in a fresh interpreter that first imports ``pyspark.worker``
(what ``pyspark.daemon`` preloads into every forked worker), then what
the fused task's unpickling imports. No Spark session is started."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

PROBE = """
import sys
import pyspark.worker
import ontocast_spark
import ontocast_spark.kernels.construct
import ontocast_spark.ontology
print("pandas" in sys.modules)
"""


def test_fused_task_imports_no_pandas():
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=ROOT, capture_output=True,
        text=True, timeout=120, check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == "False", out.stdout
