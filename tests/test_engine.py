"""Engine facade: the reference's entry-point lifecycle (ingest → count →
grep → sql) end-to-end on a temp store, plus CLI arg parsing."""

import os

from hadoop_stuff_spark.engine import Engine
from hadoop_stuff_spark.__main__ import build_parser
import pytest

# full-sweep suite (see pytest.ini): deselected from the default
# driver-facing run, executed via `pytest tests/ -m "" -q`
pytestmark = pytest.mark.slow


def test_ingest_count_grep_roundtrip(spark, tmp_path):
    src = tmp_path / "source.txt"
    lines = [f"record {i} payload x{i % 7}" for i in range(1000)]
    lines[123] = "record 123 GHOST needle"  # T8-style planted needle
    src.write_text("\n".join(lines) + "\n")
    store = str(tmp_path / "store")

    eng = Engine(spark)
    eng.ingest(str(src), store, chunk_size=200)

    # per-chunk line counts, summed: no record rows reach the shuffle
    assert eng.record_count(store).collect()[0]["record_count"] == 1000

    hits = eng.grep(store, "GHOST").collect()
    assert len(hits) == 1 and "needle" in hits[0]["value"]

    assert eng.grep_count(store, r"x3$").collect()[0][0] == len(
        [l for l in lines if l.endswith("x3")]
    )


def test_sql_surface(spark, sf_dir):
    eng = Engine(spark)
    n = eng.sql("SELECT count(*) AS n FROM region", sf_dir=sf_dir).collect()[0]["n"]
    assert n == 5


def test_cli_parser_grammar():
    p = build_parser()
    a = p.parse_args(["grep", "/store", "GHOST", "--format", "text", "--count"])
    assert (a.cmd, a.path, a.pattern, a.format, a.count) == (
        "grep", "/store", "GHOST", "text", True
    )
    a = p.parse_args(["wiretap", "/logs", ".*x.* h1:99", "--available-now"])
    assert a.subscription == [".*x.* h1:99"] and a.available_now
    a = p.parse_args(["ingest", "src.txt", "dst", "--chunk-size", "200"])
    assert a.chunk_size == 200


def test_chunk_embed_lint_and_quality_gate(spark, sf_dir):
    """chunk -> embed -> lint + quality gate, each through its operator."""
    import pyspark.sql.functions as F

    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.operators.chunking import chunk_documents
    from hadoop_stuff_spark.operators.embedding import embed_text
    from hadoop_stuff_spark.operators.quality import check_rows, enforce
    from hadoop_stuff_spark.plans.lint import lint_plan

    docs = load_table(spark, sf_dir, "documents").limit(20)
    chunks = chunk_documents(docs, window=16, overlap=4)
    embedded = embed_text(chunks)
    assert "embedding" in embedded.columns and embedded.count() >= 20
    assert lint_plan(chunks) == []

    clean, quarantine = enforce(docs, {"has_text": F.length("text") > 0})
    assert clean.count() + quarantine.count() == 20

    rep = check_rows(docs, {"has_text": F.length("text") > 0}).collect()
    assert rep[0].rule == "has_text" and rep[0].n_rows == 20


def test_sketch_and_upsert_paths(spark, sf_dir, tmp_path):
    """Theta overlap + retention, KLL quantiles, CMS estimates and the
    partition-scoped upsert end to end, each through its operator."""
    import pyspark.sql.functions as F

    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.operators.sketches import (
        build_user_cms,
        build_user_theta_sketches,
        build_value_kll_sketches,
        cms_point_estimates,
        kll_quantiles_by_type,
        theta_audience_overlap,
        theta_retention,
    )
    from hadoop_stuff_spark.sources.upsert import upsert_by_key

    events = load_table(spark, sf_dir, "events")

    th = build_user_theta_sketches(events)
    row = theta_audience_overlap(th, "purchase", "click").collect()[0]
    assert row.n_both <= row.n_either
    d0, d1 = [
        str(r.d)
        for r in events.select(F.to_date("ts").alias("d")).distinct().orderBy("d").limit(2).collect()
    ]
    ret = theta_retention(th, d0, d1).collect()[0]
    assert ret.n_retained + ret.n_churned == ret.n_day_a

    q = kll_quantiles_by_type(build_value_kll_sketches(events)).collect()
    assert all(r.p50 <= r.p95 <= r.p99 for r in q)

    cms = build_user_cms(events)
    some_user = events.select("user_id").first().user_id
    est = cms_point_estimates(spark, cms, [some_user])
    true = events.filter(F.col("user_id") == some_user).count()
    assert est[some_user] >= true

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "k long, day int, v string") \
        .write.partitionBy("day").parquet(path)
    stats = upsert_by_key(
        spark,
        path,
        spark.createDataFrame([(1, 0, "A"), (3, 0, "c")], "k long, day int, v string"),
        ["k"], ["day"],
    )
    assert stats["rows_replaced"] == 1 and stats["rows_inserted"] == 1


def test_frequency_scoring_and_corpus_overlap(spark, sf_dir):
    import pyspark.sql.functions as F

    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.engine import Engine
    from hadoop_stuff_spark.operators.sketches import build_user_cms, corpus_overlap

    eng = Engine(spark)
    events = load_table(spark, sf_dir, "events")
    cms = build_user_cms(events)
    probes = events.select("user_id").distinct().limit(20)
    scored = eng.score_by_frequency(cms, probes, "user_id")
    rows = scored.collect()
    assert all(r.est_count >= 1 for r in rows)  # every probed user occurred

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rep = corpus_overlap(
        docs.filter(F.col("doc_id") < 250), docs.filter(F.col("doc_id") >= 200)
    ).collect()[0]
    assert rep.n_shared >= 0 and rep.jaccard <= 1.0


def test_facade_curate_pipeline(spark, sf_dir):
    """One-call curation: monotone funnel, zero residual contamination,
    a split column partitioning the survivors, deterministic re-run."""
    import pyspark.sql.functions as F

    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.engine import Engine
    from hadoop_stuff_spark.operators.contamination import overlap_report

    eng = Engine(spark)
    docs = load_table(spark, sf_dir, "documents")
    holdout = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)

    out = eng.curate(corpus, holdout)
    n_out = out.count()
    assert 0 < n_out <= corpus.count()
    assert set(out.columns) == set(corpus.columns) | {"split"}
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits

    # every survivor sits at or under the contamination threshold; the
    # strict any-overlap posture (max_contamination=0.0) still works
    worst = (
        overlap_report(out.drop("split"), holdout)
        .agg(F.max("contam_frac").alias("m"))
        .collect()[0]["m"]
    )
    assert worst <= 0.05
    strict = eng.curate(corpus, holdout, max_contamination=0.0)
    resid = (
        overlap_report(strict.drop("split"), holdout)
        .agg(F.coalesce(F.sum("n_contaminated"), F.lit(0)).alias("s"))
        .collect()[0]["s"]
    )
    assert resid == 0

    again = eng.curate(corpus, holdout)
    a = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in again.select("doc_id", "split").collect()}
    assert a == b  # deterministic end to end


def test_curate_stage_attribution_via_qlog(spark, sf_dir, tmp_path):
    """VERDICT r5 #6: with a QueryLog, the curate composite decomposes
    into timed per-stage rows whose union is the whole pipeline, and the
    staged run's output is identical to the fused lazy run."""
    import pyspark.sql.functions as F

    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.engine import Engine
    from hadoop_stuff_spark.plans.qlog import QueryLog

    eng = Engine(spark)
    docs = load_table(spark, sf_dir, "documents")
    holdout = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)

    import time

    eng.curate(corpus, holdout).count()  # warm the UDF/JIT paths
    qlog = QueryLog(spark, str(tmp_path / "qlog"))
    t0 = time.perf_counter()
    staged = eng.curate(corpus, holdout, qlog=qlog)
    composite_wall = time.perf_counter() - t0
    fused = eng.curate(corpus, holdout)
    a = {(r.doc_id, r.split) for r in staged.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in fused.select("doc_id", "split").collect()}
    assert a == b  # attribution barriers change scheduling, not results

    rows = {r.name: r for r in qlog.table().collect()}
    assert set(rows) == {
        "curate:clean_exact_dedup",
        "curate:near_dedup",
        "curate:contamination",
        "curate:repetition_gate",
        "curate:split",
    }
    assert all(r.wall_s > 0 for r in rows.values())
    # the stage walls must actually account for the composite (each
    # covers build + materialize; only ms-scale log writes sit outside)
    attributed = sum(r.wall_s for r in rows.values())
    assert attributed >= 0.4 * composite_wall, (attributed, composite_wall)


def test_registry_curate_entry_keeps_a_healthy_funnel(spark):
    """Regression pin for the round-4 defect where the any-overlap
    contamination rule emptied the corpus: the benchable registry entry
    must yield all three splits with a substantial surviving corpus."""
    from hadoop_stuff_spark.plans.registry import QUERIES

    rows = {
        r["split"]: r.n_docs
        for r in QUERIES["n1_curate_pipeline"].fn(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(rows) == {"train", "val", "test"}
    assert sum(rows.values()) > 400  # of 475 corpus docs
    assert rows["train"] > rows["val"]
