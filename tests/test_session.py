"""Session set-up: executors import the package from any directory, and
DataFrame origin capture is off."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN_UDF_QUERY = f"""
import sys
sys.path.insert(0, {REPO!r})
from bayeslite_spark.session import get_spark, load_tables
from bayeslite_spark.workload import get_queries

spark = get_spark("foreign-cwd", shuffle_partitions=2)
load_tables(spark, {SF_SMOKE!r})
rows = get_queries()["q49_special_math"](spark, {SF_SMOKE!r}).collect()
print("ROWS", len(rows))
spark.stop()
"""


def test_udf_query_runs_from_foreign_working_directory(tmp_path):
    """q49's pandas UDFs run in Python workers, which import the package
    from their own path: with ``PYTHONPATH`` unset and the working
    directory outside the repository, only ``get_spark`` can put the
    package there."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "spark-local")
    proc = subprocess.run(
        [sys.executable, "-c", _RUN_UDF_QUERY], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 1" in proc.stdout


def test_origin_capture_is_off(spark):
    """``get_spark`` sessions do not wrap Column/DataFrame calls in
    PySpark's call-site capture."""
    from pyspark.errors.utils import is_debugging_enabled

    assert is_debugging_enabled() is False


_BUILD_Q01 = f"""
import sys
sys.path.insert(0, {REPO!r})
from bayeslite_spark.session import get_spark, load_tables
from bayeslite_spark.workload import get_queries
from tests.conftest import count_py4j

spark = get_spark("origin-off", shuffle_partitions=2)
load_tables(spark, {SF_SMOKE!r})
q01 = get_queries()["q01_pricing_summary"]
rows, sent = count_py4j(spark, lambda: q01(spark, {SF_SMOKE!r}).collect())
origin = sum(n for t, n in sent.items() if "PySparkCurrentOrigin" in t)
print("ROWS", len(rows), "ORIGIN", origin, "IPYTHON", "IPython" in sys.modules)
spark.stop()
"""


def test_q01_sends_no_origin_commands(tmp_path):
    """In a fresh process, building and collecting q01 sends no
    ``PySparkCurrentOrigin`` py4j command and never imports IPython
    (which the call-site capture's stack walk would)."""
    import importlib.util

    env = dict(os.environ, SPARK_GRAFT_CPUS="2",
               SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"))
    proc = subprocess.run(
        [sys.executable, "-c", _BUILD_Q01], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = proc.stdout.split()
    rows, origin, ipython = (out[out.index(k) + 1]
                             for k in ("ROWS", "ORIGIN", "IPYTHON"))
    assert int(rows) > 0 and origin == "0"
    if importlib.util.find_spec("IPython") is None:
        pytest.skip("IPython is not installed")
    assert ipython == "False"
