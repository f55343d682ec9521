"""Engine.curate's barrier plan: which Spark jobs run when the pipeline is
merely built, and what the MinHash pass reads in staged and fused mode.
Both tests curate as `registry.curated_corpus` does (every 20th document
held out, max_contamination 0.5) over the sf0.001 documents."""

from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table
from hadoop_stuff_spark.engine import Engine
from hadoop_stuff_spark.plans.qlog import QueryLog
from hadoop_stuff_spark.plans.registry import curated_corpus


def test_curate_construction_runs_30_jobs(spark, sf_dir):
    """Building the pipeline, with no action, runs exactly 30 jobs: 4 for
    the exact-dedup fan-out checkpoint, 1 for MinHash's signature
    checkpoint, 20 inside connected_components (5 for its edge list, then
    7 and 8 for its two label rounds, each round's changed-label count
    observed on the round's own checkpoint) and 5 for the near-dup
    survivors' fan-out checkpoint. Each AQE query stage is its own job.
    The same count holds at sf0.1 on 4 cores. The tables load outside the
    counted group: loading is not curate's work."""
    docs = load_table(spark, sf_dir, "documents")
    holdout = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    sc = spark.sparkContext
    group = "curate-construction"
    sc.setJobGroup(group, group)
    try:
        Engine(spark).curate(corpus, holdout, max_contamination=0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 30


def test_staged_and_fused_curate_read_minhash_input_at_one_width(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Both modes hand minhash_candidates the widened exact-dedup
    checkpoint, and the staged mode still logs its five stages."""
    from hadoop_stuff_spark.operators import dedup

    widths = []
    real = dedup.minhash_candidates

    def spy(docs, *args, **kwargs):
        widths.append(docs.rdd.getNumPartitions())
        return real(docs, *args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_candidates", spy)
    curated_corpus(spark, sf_dir)
    qlog = QueryLog(spark, str(tmp_path / "qlog"))
    curated_corpus(spark, sf_dir, qlog=qlog)
    wide = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    assert widths == [wide, wide]
    assert {r.name for r in qlog.table().collect()} == {
        "curate:clean_exact_dedup",
        "curate:near_dedup",
        "curate:contamination",
        "curate:repetition_gate",
        "curate:split",
    }
