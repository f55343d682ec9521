"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over hadoop_stuff_spark.plans.registry — the engine's query
registry (one entry per implemented SURVEY.md §2 operator, with DuckDB
oracle SQL where SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)


def _with_root(path: str | None) -> str:
    return os.pathsep.join(p for p in (ROOT, path) if p)


# Python workers unpickle UDFs that import the package, so they need the
# root on their PYTHONPATH whatever the working directory: a session
# started after this import inherits it through the JVM's environment, a
# running one through its context's worker environment.
os.environ["PYTHONPATH"] = _with_root(os.environ.get("PYTHONPATH"))
if SparkContext._active_spark_context is not None:
    _env = SparkContext._active_spark_context.environment
    _env["PYTHONPATH"] = _with_root(_env.get("PYTHONPATH"))

from hadoop_stuff_spark.plans import registry  # noqa: E402
from hadoop_stuff_spark.plans.flagship import flagship  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (grep + count fused, SURVEY.md §7 M0) on sf0.001."""
    return flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
