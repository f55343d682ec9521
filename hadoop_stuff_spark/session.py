"""SparkSession factory tuned for this engine.

The reference hand-tunes physical execution per job (split sizes, map slots,
JVM reuse — DistributedGrep.java:104-110). Here the equivalent knobs are set
once, declaratively, and AQE re-plans at runtime:

- AQE on (coalesce post-shuffle partitions, skew-join splitting) — replaces
  the reference's manual split-size tuning (SURVEY.md P3).
- shuffle.partitions sized to the machine; AQE coalesces down when small.
- Arrow enabled so any pandas_udf path is batch-transferred (SURVEY.md P6:
  batch-at-a-time beats per-record — the reference measured this with
  StringEvaluationTest.java:53-73; pandas_udf is our version of the win).
- maxPartitionBytes 128 MiB — the reference's dfs.block.size sweet spot
  (IngestTest.java:66).
- Python workers fork from the engine's own daemon (``pydaemon``). Stock
  PySpark re-reads the directory of ``pyspark.zip`` and of the spark-core
  jar at the start of every Python task, ~0.2-0.3 s on Python 3.11 before
  any Arrow UDF runs; the daemon re-reads an archive only when it changed.
  The daemon module must import on the workers from any working
  directory, so the repo root goes on their PYTHONPATH
  (``put_root_on_worker_path``, the same rule the driver contract uses).
- A generated-code cache of ``CODEGEN_CACHE_ENTRIES`` (2000) classes,
  ``spark.sql.codegen.cache.maxEntries``, where Spark's default is 100.
  Spark compiles a Java class per whole-stage pipeline and per generated
  projection, keyed by its source, and compiles an evicted one again on
  its next use. Working sets, as distinct classes compiled with an
  unbounded cache (4 cores): a perfbench process 26-155
  (``corpus_curate`` 114, traced 155; ``wiretap_stream`` 50/82;
  ``log_ingest_grep`` 26/38); ``bench.py``'s sf0.1 headline 1,182 in its
  first pass and 1,244 over three interleaved passes and a back-to-back
  one (each later pass adds 8-30 plan variants, not evictions). At 100
  every headline pass recompiled 1,456 classes and summed 78-80 s; at
  2000 a later pass compiles 24-30 and sums 50-51 s. A warm
  ``Engine.curate`` on the sf0.001 documents recompiled ~58 classes per
  call at 100 and compiles none at 2000. Cost: the classes stay loaded,
  and metaspace read 192-195 MB after the headline passes at 2000 against
  186-203 MB at 100, where discarded classes wait for a GC to unload.

At 100 TB on a real cluster the same session conf holds; only
executor counts/memory (cluster-manager side) change.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _with_root(path: str | None) -> str:
    if path and ROOT in path.split(os.pathsep):
        return path
    return os.pathsep.join(p for p in (ROOT, path) if p)


def put_root_on_worker_path() -> None:
    """Put the repo root on the Python workers' PYTHONPATH.

    Workers import the package (UDFs unpickle against it, and engine
    sessions fork them from ``hadoop_stuff_spark.pydaemon``) whatever the
    working directory: a session started after this call inherits the root
    through the JVM's environment, a running one through its context's
    worker environment."""
    os.environ["PYTHONPATH"] = _with_root(os.environ.get("PYTHONPATH"))
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.environment["PYTHONPATH"] = _with_root(sc.environment.get("PYTHONPATH"))


# Generated classes the JVM keeps compiled (Spark's default is 100).
CODEGEN_CACHE_ENTRIES = 2000


def codegen_compiles(spark: SparkSession) -> int:
    """Java classes the JVM's expression/whole-stage code generator has
    compiled since it started: a cache hit does not count, so the rise
    across a workload is its recompiles."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "") or (os.cpu_count() or 4)))
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "hadoop-stuff-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults.

    Safe to call repeatedly — Spark returns the existing session; conf that
    can only be set at JVM start (driver memory) is ignored on reuse.
    """
    put_root_on_worker_path()
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(8, cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Python DataSource pushdown (sources/pyds.py greplog): off by
        # default in Spark 4.1; enabling it is required for pushFilters
        # to reach the reader and harmless otherwise
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "hadoop_stuff_spark.pydaemon")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
