"""Text cleaning (PII redaction, markup stripping), the copy exact dedup
keeps, and deterministic sampling / corpus mixing. Value oracles here are
hand-built examples plus determinism/partitioning-invariance properties;
the DuckDB-differential certification queries live in EXTRA_QUERIES
(picked up by test_oracle_parity)."""

from pyspark.sql import functions as F

from hadoop_stuff_spark.operators.cleaning import (
    clean_text,
    redact_pii,
    strip_markup,
)
from hadoop_stuff_spark.operators.sampling import (
    deterministic_sample,
    sample_n_per_group,
    stratified_sample,
)


def test_exact_dedup_keeps_the_least_doc_id(spark):
    """The surviving copy of an exact-duplicate group is its least doc_id,
    as in dedup_exact_groups, wherever the copies sit in the input."""
    from hadoop_stuff_spark.operators.dedup import drop_exact_duplicates

    base = "the quick brown fox jumps over the lazy dog"
    upper = "  THE quick brown fox jumps over the LAZY dog "
    other = "spark shuffles partitions across executors"
    rows = [(9, base), (5, base), (7, other), (2, upper), (8, other), (3, base)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string").repartition(3)
    out = drop_exact_duplicates(df, "text")
    assert out.columns == df.columns
    assert sorted(tuple(r) for r in out.collect()) == [(2, upper), (7, other)]


def _one(spark, text: str, expr) -> str:
    return spark.createDataFrame([(text,)], "t: string").select(
        expr("t").alias("out")
    ).collect()[0]["out"]


def test_redact_pii_examples(spark):
    cases = {
        # the reference's own data shapes: CDR phone + flow-log IPs
        "CALL from=17325551212 status=OK": "CALL from=<PHONE> status=OK",
        "src 156.56.0.124 -> 156.56.0.125 done": "src <IP> -> <IP> done",
        "mail bob.smith+x@example.co.uk now": "mail <EMAIL> now",
        "ssn 123-45-6789 on file": "ssn <SSN> on file",
        # e-mail wins over phone for digits inside the local part
        "reach 17325551212@sms.example.com ok": "reach <EMAIL> ok",
        "no pii here 123": "no pii here 123",
    }
    for given, want in cases.items():
        assert _one(spark, given, redact_pii) == want, given


def test_strip_markup_examples(spark):
    assert (
        _one(spark, "<div class=\"x\"><p>hello <b>world</b></p></div>", strip_markup)
        == "hello world"
    )
    assert _one(spark, "a < b and c > d", strip_markup) == "a < b and c > d"
    assert _one(spark, "line<br/>break", strip_markup) == "line break"


def test_clean_text_chain(spark):
    got = _one(spark, "<p>call  17325551212   now</p>", clean_text)
    assert got == "call <PHONE> now"


def test_cleaning_is_map_only(spark, sf_dir):
    """The whole cleaning chain must stay one codegen'd scan: no Exchange,
    no Python."""
    from hadoop_stuff_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        docs.select(clean_text("text"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF fell out of Catalyst


def test_deterministic_sample_stable_across_partitionings(spark):
    df = spark.range(20000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.2).collect()}
    b = {
        r.doc_id
        for r in deterministic_sample(df.repartition(17), "doc_id", 0.2).collect()
    }
    assert a == b  # pure function of the row, not the partitioning
    # ~20% with generous tolerance (md5 uniformity)
    assert 0.17 < len(a) / 20000 < 0.23
    # monotone: a smaller fraction's sample is a subset (threshold nesting)
    c = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.1).collect()}
    assert c <= a


def test_deterministic_sample_salt_draws_independent_sample(spark):
    df = spark.range(10000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.5).collect()}
    b = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.5, salt="s2").collect()}
    assert a != b
    overlap = len(a & b) / 10000
    assert 0.2 < overlap < 0.3  # ≈ 0.25 for independent halves


def test_stratified_sample_fractions_and_default(spark):
    df = spark.range(30000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "wiki")
        .when(F.col("id") % 3 == 1, "crawl")
        .otherwise("forum")
        .alias("source"),
    )
    kept = stratified_sample(
        df, "source", {"wiki": 1.0, "crawl": 0.1}, "doc_id"
    )  # forum → default 0.0
    counts = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts.get("wiki") == 10000  # fraction 1.0 keeps everything
    assert 800 < counts.get("crawl", 0) < 1200
    assert "forum" not in counts


def test_sample_n_per_group_exact_and_deterministic(spark):
    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("g")
    )
    got1 = sample_n_per_group(df, "g", "doc_id", 5)
    got2 = sample_n_per_group(df.repartition(13), "g", "doc_id", 5)
    rows1 = sorted((r.g, r.doc_id) for r in got1.collect())
    rows2 = sorted((r.g, r.doc_id) for r in got2.collect())
    assert rows1 == rows2  # partitioning-invariant pick
    per_group = {}
    for g, _ in rows1:
        per_group[g] = per_group.get(g, 0) + 1
    assert per_group == {g: 5 for g in range(7)}


def test_split_corpus_partition_and_exclusivity(spark):
    from hadoop_stuff_spark.operators.sampling import split_corpus

    df = spark.range(50000).select(F.col("id").alias("doc_id"))
    out = split_corpus(df, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 50000  # every row in exactly one split
    assert 0.88 < counts["train"] / 50000 < 0.92
    assert 0.04 < counts["val"] / 50000 < 0.06
    assert 0.04 < counts["test"] / 50000 < 0.06
    # stable under repartitioning
    again = split_corpus(df.repartition(23), "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    a = sorted((r.doc_id, r.split) for r in out.collect())
    b = sorted((r.doc_id, r.split) for r in again.collect())
    assert a == b
    import pytest

    with pytest.raises(ValueError, match="sum to 1"):
        split_corpus(df, "doc_id", {"train": 0.5, "val": 0.1})


def test_pack_sequences_budget_and_coverage(spark):
    from hadoop_stuff_spark.operators.packing import pack_sequences, pack_stats

    budget = 1000
    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        # token counts 1..700, plus a few over-budget monsters
        F.when(F.col("id") % 500 == 0, 2500)
        .otherwise((F.pmod(F.hash("id"), F.lit(700)) + 1).cast("int"))
        .alias("n_tokens"),
    ).repartition(8)
    packed = pack_sequences(docs, budget)
    rows = packed.collect()
    # every doc exactly once
    assert sorted(r.doc_id for r in rows) == list(range(4000))
    stats = pack_stats(packed, budget).collect()
    for s in stats:
        # budget respected unless the sequence is an over-budget singleton
        assert s.total_tokens <= budget or s.n_docs == 1, s
    # packing actually packs: average fill well above half
    import statistics

    fills = [s.fill for s in stats if s.total_tokens <= budget]
    assert statistics.mean(fills) > 0.6


def test_corpus_mix_hits_target_proportions(spark):
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.operators.sampling import corpus_mix

    rows = (
        [(i, "a") for i in range(1000)]
        + [(i + 10000, "b") for i in range(1000)]
        + [(i + 20000, "c") for i in range(500)]
    )
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    mixed = corpus_mix(df, "source", {"a": 0.5, "b": 0.25, "c": 0.25}, "doc_id")
    got = {r["source"]: r["n"] for r in
           mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # scarcest source relative to weight: a (1000/0.5) ties c (500/0.25) at
    # scale 2000 -> targets a=1000 (kept whole), b=500, c=500
    assert got["a"] == 1000  # keep_frac 1.0 is exact
    assert abs(got["b"] - 500) < 75  # hash-threshold sampling is approximate
    assert abs(got["c"] - 500) < 75
    # deterministic across partitionings
    again = corpus_mix(
        df.repartition(17), "source", {"a": 0.5, "b": 0.25, "c": 0.25}, "doc_id"
    )
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in mixed.collect()
    )
