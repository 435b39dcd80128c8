"""The driver contract from outside the checkout: a driver starts its
own vanilla SparkSession in some other working directory, loads
``__spark_entry__.py`` by path and runs the queries it lists. The
queries' Python workers must import the package too."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 1. a vanilla session, 2. the facade loaded by path, 3. a query whose
# rows come from a Python data source read in the workers.
CHILD = """
import importlib.util, sys
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
e = importlib.util.module_from_spec(spec)
spec.loader.exec_module(e)
print(e.queries()["python_datasource_synthetic"](spark, "/root/testdata/sf0.001").count())
"""


def test_facade_queries_run_from_another_working_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", CHILD, os.path.join(REPO, "__spark_entry__.py")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ModuleNotFoundError" not in out.stderr, out.stderr[-3000:]
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "50"
