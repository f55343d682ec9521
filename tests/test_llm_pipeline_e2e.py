"""End-to-end LLM training-data pipeline over the documents table:

    clean → exact-dedup → near-dup cluster removal → decontaminate vs a
    held-out benchmark → quality/repetition filter → train/val/test split
    → deterministic shard write → sequence packing

Every stage is an already-certified operator; this pins that they compose
(schemas line up, determinism survives chaining) and that the funnel's
invariants hold: monotone shrinking corpus, no held-out leakage, split
partitions the survivors, packing covers exactly the train split."""

import shutil
import tempfile

from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table
from hadoop_stuff_spark.functions import text as T
from hadoop_stuff_spark.operators.cleaning import clean_text
from hadoop_stuff_spark.operators.clusters import dedup_clusters
from hadoop_stuff_spark.operators.contamination import decontaminate
from hadoop_stuff_spark.operators.dedup import (
    drop_exact_duplicates,
    ngram_jaccard_pairs,
)
from hadoop_stuff_spark.operators.packing import pack_sequences, pack_stats
from hadoop_stuff_spark.operators.sampling import split_corpus
from hadoop_stuff_spark.operators.shards import shard_key, write_training_shards


def test_full_training_data_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_raw = docs.count()

    # --- stage 1: clean (map-only; schema-preserving on the text col)
    cleaned = docs.withColumn("text", clean_text("text"))

    # --- stage 2: exact dedup
    exact = drop_exact_duplicates(cleaned, "text")
    n_exact = exact.count()
    assert 0 < n_exact <= n_raw

    # --- stage 3: near-dup clusters (exact Jaccard pairs -> keep canonical)
    pairs = ngram_jaccard_pairs(spark, sf_dir, n=3, threshold=0.4)
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    neardeduped = exact.join(losers, "doc_id", "left_anti")
    n_near = neardeduped.count()
    assert 0 < n_near <= n_exact

    # --- stage 4: decontaminate against the held-out slice
    holdout = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = neardeduped.filter(F.col("doc_id") % 20 != 0)
    clean_corpus = decontaminate(corpus, holdout, 0.0)  # drop on any overlap
    n_clean = clean_corpus.count()
    assert 0 < n_clean <= n_near
    # no surviving doc shares a 3-gram with the holdout (spot-check via
    # re-running the report on the survivors)
    from hadoop_stuff_spark.operators.contamination import overlap_report

    resid = overlap_report(clean_corpus, holdout).agg(
        F.sum("n_contaminated").alias("s")
    ).collect()[0]["s"]
    assert resid == 0

    # --- stage 5: repetition/quality gate (keep docs under the dup-word cap)
    gated = clean_corpus.filter(T.dup_word_frac("text") <= 0.9)
    n_gated = gated.count()
    assert 0 < n_gated <= n_clean

    # --- stage 6: deterministic split; partitions the survivors exactly
    split = split_corpus(gated, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    per_split = {r["split"]: r["n"] for r in
                 split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(per_split.values()) == n_gated
    assert per_split.get("train", 0) > per_split.get("val", 0)

    # --- stage 7: shard-write the train split; reproducible on re-read
    train = split.filter("split = 'train'").drop("split")
    tmp = tempfile.mkdtemp(prefix="pipeline_")
    try:
        write_training_shards(train, f"{tmp}/train", "doc_id", n_shards=4)
        back = spark.read.parquet(f"{tmp}/train")
        assert back.count() == per_split["train"]
        got = {r["doc_id"]: r["shard"] for r in back.select("doc_id", "shard").collect()}
        want = {
            r["doc_id"]: r["s"]
            for r in train.select("doc_id", shard_key("doc_id", 4).alias("s")).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # --- stage 8: pack train docs into fixed-token sequences
    with_tokens = train.select("doc_id", F.size(T.tokens("text")).alias("n_tokens"))
    packed = pack_sequences(with_tokens, budget=256)
    assert packed.count() == per_split["train"]  # every doc packed exactly once
    stats = pack_stats(packed, budget=256)
    over = stats.filter((F.col("total_tokens") > 256) & (F.col("n_docs") > 1)).count()
    assert over == 0  # budget respected except over-budget singletons
