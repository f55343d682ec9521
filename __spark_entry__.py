"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over hadoop_stuff_spark.plans.registry — the engine's query
registry (one entry per implemented SURVEY.md §2 operator, with DuckDB
oracle SQL where SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from hadoop_stuff_spark.session import put_root_on_worker_path  # noqa: E402

# Python workers unpickle UDFs that import the package, whatever the
# working directory
put_root_on_worker_path()

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
