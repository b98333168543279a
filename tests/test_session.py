"""Session set-up: executors import the package from any directory."""

from __future__ import annotations

import os
import subprocess
import sys

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
