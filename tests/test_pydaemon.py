"""The engine's Python-worker daemon: a task's cache invalidation re-reads
a zip archive only when the archive changed, engine sessions' workers run
the wrapper, and the daemon imports from any working directory."""

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hadoop_stuff_spark import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _import_from(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    pydaemon.invalidate_caches(importer)
    assert _import_from(importer, "a").X == 1
    pydaemon.invalidate_caches(importer)
    assert _import_from(importer, "a").X == 1
    assert len(reads) == 1

    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    pydaemon.invalidate_caches(importer)
    assert _import_from(importer, "b").Y == 2
    assert len(reads) == 2


def test_engine_session_workers_run_the_wrapper(spark):
    @pandas_udf("string")
    def invalidator_module(s):
        import zipimport

        import pandas as pd

        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(s))

    row = spark.range(1).select(invalidator_module(F.col("id").cast("string"))).first()
    assert row[0] == "hadoop_stuff_spark.pydaemon"


SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from hadoop_stuff_spark.session import get_spark

spark = get_spark(app_name="pydaemon-cwd", master="local[1]")

@pandas_udf("long")
def plus_one(s):
    return s + 1

print("SUM", spark.range(3).select(plus_one(F.col("id")).alias("v")).agg(F.sum("v")).first()[0])
"""


def test_engine_session_outside_repo_runs_pandas_udf(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = tmp_path / "drive.py"
    script.write_text(SCRIPT)
    out = subprocess.run(
        [sys.executable, str(script), ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "SUM 6" in out.stdout
