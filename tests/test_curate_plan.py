"""Engine.curate's barrier plan: which Spark jobs run when the pipeline is
merely built, what the MinHash pass reads in staged and fused mode, and
that a warm session compiles no code for it. The tests curate as
`registry.curated_corpus` does (every 20th document held out,
max_contamination 0.5) over the sf0.001 documents."""

from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table
from hadoop_stuff_spark.engine import Engine
from hadoop_stuff_spark.operators import textstats
from hadoop_stuff_spark.plans.qlog import QueryLog
from hadoop_stuff_spark.plans.registry import curated_corpus
from hadoop_stuff_spark.session import codegen_compiles


def _curate_inputs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    holdout = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return corpus, holdout


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_curate_construction_runs_18_jobs(spark, sf_dir):
    """Building the pipeline, with no action, runs exactly 18 jobs: 4 for
    the exact-dedup fan-out checkpoint (scan, spread exchange, exact-dedup
    exchange, checkpoint), 1 for MinHash's signature checkpoint and 13
    inside connected_components (4 for its edge list, 2 for its join-free
    first label round, 7 for the confirming round, whose changed-label
    count is observed on the round's own checkpoint). The near-dup
    survivors are no barrier: they are the exact-dedup checkpoint
    anti-joined with the loser set. Each AQE query stage is its own job.
    The same count holds at sf0.1 on 4 cores. The tables load outside the
    counted group: loading is not curate's work."""
    corpus, holdout = _curate_inputs(spark, sf_dir)
    sc = spark.sparkContext
    group = "curate-construction"
    sc.setJobGroup(group, group)
    try:
        Engine(spark).curate(corpus, holdout, max_contamination=0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 18


def test_warm_curate_compiles_no_code(spark, sf_dir):
    """After one curate and one text-signature pair, a second curate finds
    every generated class in the session's code cache: it compiles none.
    Spark's default cache of 100 classes is smaller than curate's own set,
    so at that cap every curate call recompiles part of it."""
    corpus, holdout = _curate_inputs(spark, sf_dir)
    eng = Engine(spark)
    _noop(eng.curate(corpus, holdout, max_contamination=0.5))
    _noop(textstats.winnowed_fingerprints(spark, sf_dir))
    _noop(textstats.repetition_signals(spark, sf_dir))
    before = codegen_compiles(spark)
    _noop(eng.curate(corpus, holdout, max_contamination=0.5))
    assert codegen_compiles(spark) - before == 0


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
