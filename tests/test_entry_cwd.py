"""The driver contract works from any working directory: Python workers
find the package whether the session starts before or after
``__spark_entry__`` is imported."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import importlib.util, sys
from pyspark.sql import SparkSession

entry_path, order, sf_dir = sys.argv[1:]

def session():
    return SparkSession.builder.master("local[1]").appName("entry-cwd").getOrCreate()

if order == "before":
    spark = session()
spec = importlib.util.spec_from_file_location("__spark_entry__", entry_path)
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
if order == "after":
    spark = session()
rows = entry.queries()["t1_t2_gzip_roundtrip"](spark, sf_dir).collect()
print("ROWS", len(rows))
"""


@pytest.mark.parametrize("order", ["before", "after"])
def test_vanilla_session_outside_repo_runs_python_udf_query(tmp_path, sf_dir, order):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = tmp_path / "drive.py"
    script.write_text(SCRIPT)
    out = subprocess.run(
        [sys.executable, str(script), os.path.join(ROOT, "__spark_entry__.py"), order, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ROWS " in out.stdout
