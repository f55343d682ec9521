"""The plan linter must flag each crafted anti-pattern and pass the
engine's real scale-path queries."""

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf, udf

from hadoop_stuff_spark.catalog import load_table
from hadoop_stuff_spark.plans.lint import lint_plan


def _rules(findings):
    return {r for r, _ in findings}


def test_flags_cartesian(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    assert "cartesian" in _rules(lint_plan(a.crossJoin(b)))
    assert "cartesian" not in _rules(lint_plan(a.crossJoin(b), allow_cartesian=True))


def test_flags_row_at_a_time_udf(spark):
    slow = udf(lambda x: x + 1, "long")
    df = spark.range(10).select(slow("id").alias("y"))
    assert "python-udf-row" in _rules(lint_plan(df))


def test_flags_duplicated_arrow_udf_chain():
    """The round-2 PQ defect, verbatim from its captured physical plan:
    Catalyst's inferred `size(udf(..)) > 0` filter cloned the two-UDF
    chain below the repartition (adc/enc each evaluated at TWO exprIds).
    The linter must flag the captured plan and pass the fixed (single
    chain) variant."""
    from hadoop_stuff_spark.plans.lint import lint_plan_text

    bad = """
Generate posexplode(sims#288), [vec_id#0L], false, [qpos#289, sim#290]
+- Project [vec_id#0L, pythonUDF0#496 AS sims#288]
   +- ArrowEvalPython [adc(pythonUDF0#495.codes, pythonUDF0#495.recon_nrm)#287], [pythonUDF0#496], 200
      +- Project [vec_id#0L, pythonUDF0#495]
         +- ArrowEvalPython [enc(embedding#1)#281], [pythonUDF0#495], 200
            +- Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM, [plan_id=620]
               +- Filter ((size(pythonUDF0#494, false) > 0) AND isnotnull(pythonUDF0#494))
                  +- ArrowEvalPython [adc(pythonUDF0#493.codes, pythonUDF0#493.recon_nrm)#287], [pythonUDF0#494], 200
                     +- ArrowEvalPython [enc(embedding#1)#281], [pythonUDF0#493], 200
                        +- FileScan parquet [vec_id#0L,embedding#1]
"""
    # exprId per SITE is the output attr id (#493-496): rewrite the rule's
    # capture accordingly — the udf name appearing with two distinct
    # output ids marks the clone
    rules = {r for r, _ in lint_plan_text(bad, max_exchanges=99, allow_global_sort=True)}
    assert "python-chain-dup" in rules

    good = """
Generate posexplode(sims#288), [vec_id#0L], false, [qpos#289, sim#290]
+- ArrowEvalPython [adc(pythonUDF0#495.codes)#287], [pythonUDF0#496], 200
   +- ArrowEvalPython [enc(embedding#1)#281], [pythonUDF0#495], 200
      +- FileScan parquet [vec_id#0L,embedding#1]
"""
    rules = {r for r, _ in lint_plan_text(good, max_exchanges=99, allow_global_sort=True)}
    assert "python-chain-dup" not in rules


def test_flags_global_sort_but_not_topk(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    sorted_df = orders.orderBy("o_totalprice")
    assert "global-sort" in _rules(lint_plan(sorted_df))
    topk = orders.orderBy(F.desc("o_totalprice")).limit(5)
    assert "global-sort" not in _rules(lint_plan(topk))
    assert "global-sort" not in _rules(lint_plan(sorted_df, allow_global_sort=True))


def test_flags_hof_invariant(spark, sf_dir):
    """The pre-`let` bigrams shape: the lambda body re-reads
    split(text, ' '), an outer call, so every bigram re-splits the text.
    The let-bound T.bigrams, and lambdas that read a bare outer attribute,
    a literal or a cast of one, are clean."""
    from hadoop_stuff_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    count = F.size(toks) - 1
    inline = F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    findings = lint_plan(docs.select(inline.alias("b")))
    assert "hof-invariant" in _rules(findings)
    assert any("split(text, " in e for r, e in findings if r == "hof-invariant"), findings
    assert "hof-invariant" not in _rules(lint_plan(docs.select(T.bigrams("text"))))

    allowed = docs.select(
        F.transform(
            T.tokens("text"),
            lambda t: F.concat(t, F.col("source"), F.lit("."), F.col("doc_id").cast("string")),
        )
    )
    assert "hof-invariant" not in _rules(lint_plan(allowed))


def test_flags_udf_over_hof_argument(spark, sf_dir):
    """A pandas UDF over T.shingles (a let-bound HOF array) fails codegen
    once other queries have run in the session, so it is flagged; the same
    UDF over T.tokens is clean."""
    from hadoop_stuff_spark.functions import text as T

    @pandas_udf("long")
    def n_items(arrays: pd.Series) -> pd.Series:
        return arrays.map(len)

    docs = load_table(spark, sf_dir, "documents")
    findings = lint_plan(docs.select(n_items(T.shingles("text", 3))))
    assert "udf-hof-arg" in _rules(findings)
    assert any("n_items(" in e for r, e in findings if r == "udf-hof-arg"), findings
    assert "udf-hof-arg" not in _rules(lint_plan(docs.select(n_items(T.tokens("text")))))


def test_real_scale_paths_are_clean(spark, sf_dir):
    from hadoop_stuff_spark.operators.dedup import minhash_near_dups
    from hadoop_stuff_spark.operators.pq import topk_cosine_pq
    from hadoop_stuff_spark.operators.relational import q5_region_revenue

    # q5: two fact-shuffle sides + agg partial/final + presentation sort
    # = 6 exchanges is its honest shape; no cartesians / dup chains / row UDFs
    assert _rules(lint_plan(q5_region_revenue(spark, sf_dir), max_exchanges=6, allow_global_sort=True)) == set()
    # candidate-pair + ANN pipelines: a couple more exchanges are inherent
    # (banding self-join; rerank window) but no dup chains / cartesians
    assert _rules(lint_plan(minhash_near_dups(spark, sf_dir), max_exchanges=8)) == set()
    assert _rules(lint_plan(topk_cosine_pq(spark, sf_dir), max_exchanges=8)) == set()


def test_every_registry_query_free_of_hard_antipatterns(spark):
    """Blanket invariant over the WHOLE registry: no query may contain a
    row-at-a-time Python UDF, a duplicated Arrow-UDF chain, a
    loop-invariant call inside a HOF lambda or a Python UDF over a HOF
    argument, and only
    the documented exact baselines / single-row-broadcast scalar shapes
    may contain a nested-loop join. This is the sweep that caught (and
    now pins fixed) the simhash and IVF double-evaluations."""
    from hadoop_stuff_spark.plans.registry import EXTRA_QUERIES, QUERIES

    # cartesian allowlist, each with its reason:
    CARTESIAN_OK = {
        "n1_embedding_cosine_dups",    # documented exact O(n^2) oracle baseline
        "n2_topk_cosine_bruteforce",   # documented exact baseline (broadcast queries)
        "q22_idle_rich_customers",     # 1-row stats frame crossJoin (scalar subquery shape)
        "n3_corpus_mix",               # 1-row totals frame broadcast
        "n3_tfidf_top_terms",          # 1-row corpus-size frame broadcast
        "pagerank_copurchase_parts",   # 1-row node-count frame crossJoin per iteration
        "histogram_order_values",      # 1-row min/max bounds frame broadcast
        "n3_collocations",             # 1-row bigram-total frame broadcast
        "n3_bm25_topk",                # 1-row corpus-stats frame broadcast
        "n2_hybrid_rrf_fusion",        # 1-row stats + 1-row query-vector broadcasts
        "n3_importance_resampling",    # 1-row bucket-totals frame crossJoin
        "n3_bigram_lm_scores",         # 1-row vocabulary-size frame broadcast
        "n2_retrieval_mrr",            # broadcast 20-row query set (exact eval baseline)
        "n2_cosine_pair_histogram",    # all-pairs over a deterministic SAMPLE (bounded diagnostic)
        "n3_quantile_normalized_scores",  # 1-row global quantile grid broadcast
        "chi2_event_type_dow",         # |types| x 7 marginal-grid crossJoin (two tiny aggregates)
        "n2_knn_label_agreement",      # broadcast modular query sample (exact eval baseline)
        "value_drift_psi",             # 1-row bounds+midpoint stats frame broadcast
        "basket_affinity_lift",        # 1-row basket-total frame broadcast
        "rfm_customer_segments",       # 1-row corpus-max-date frame broadcast
        "decayed_event_type_topk",     # 1-row corpus-max-ts frame broadcast
        "n2_ivf_recall_curve",         # diagnostic priced as ONE brute pass (broadcast query set)
        "n2_ivf_cost_table",           # diagnostic priced as ONE brute pass (broadcast query set)
        "n1_cross_source_dup_matrix",  # |sources|^2 zero-cell grid crossJoin (two tiny frames)
        "forecast_backtest_daily_orders",  # 1-row date-bounds frame broadcast (calendar explode)
        "acf_daily_orders",            # 1-row bounds + max_lag-row lag-grid broadcasts
        "n2_label_silhouette",         # |labels|-row centroid frame broadcast (scalar shape)
        "n3_length_psi_by_source",     # 1-row length-bounds frame broadcast
        "weekly_retention_matrix",     # 1-row corpus-max-week frame broadcast
        "priority_mix_drift_by_month",  # months x |priorities| zero-cell grid (two tiny distinct frames)
        "priority_share_control_chart",  # 1-row corpus-share (p-bar) frame broadcast
        "n2_jl_projection_distortion",  # all-pairs over a deterministic SAMPLE (bounded diagnostic)
        "ab_purchase_rate_bootstrap_ci",  # constant metric key folds the pt x ci join to 1-row x 1-row
        "km_interorder_survival",      # 1-row corpus-max-date frame broadcast
        "priority_transition_matrix",  # |P|^2 zero-cell grid crossJoin (two tiny distinct frames)
        "n2_mmr_diversified_topk",     # stage-1 pool is the documented brute pass (broadcast query set)
    }
    sf = "/root/testdata/sf0.001"
    bad = []
    for name, spec in {**QUERIES, **EXTRA_QUERIES}.items():
        findings = lint_plan(
            spec.fn(spark, sf), max_exchanges=999, allow_global_sort=True,
            allow_cartesian=(name in CARTESIAN_OK),
        )
        hard = [
            (r, e)
            for r, e in findings
            if r
            in ("python-udf-row", "python-chain-dup", "cartesian", "hof-invariant", "udf-hof-arg")
        ]
        if hard:
            bad.append((name, hard))
    assert bad == [], bad


def test_no_rdd_on_the_query_path():
    """Source-level sweep (r3 VERDICT #4): `.rdd` on a DataFrame triggers
    a physical-planning + RDD-conversion round trip per call and drops
    out of Catalyst entirely — nothing on the query path may use it.
    Allowlist: the SequenceFile sink, where saveAsSequenceFile has no
    DataFrame equivalent (the RDD hop IS the operator)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "hadoop_stuff_spark"
    ALLOW = {"sources/sequencefile.py"}
    hits = []
    for py in sorted(root.rglob("*.py")):
        rel = str(py.relative_to(root))
        if rel in ALLOW:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"\.rdd\b", line):
                hits.append(f"{rel}:{i}: {line.strip()}")
    assert hits == [], hits


def test_no_nondeterministic_row_ids_in_engine():
    """Source-level sweep: `monotonically_increasing_id` is banned from
    the engine. It is non-deterministic across plan re-executions, and
    any frame carrying it that feeds two plan branches (an aggregate
    plus a re-join is the common shape) can resolve rows INCONSISTENTLY
    between the branches — the decontaminate/CDC-sink bug class fixed
    in round 4. Deterministic alternatives: content hashes (xxhash64
    over columns), real sequence columns, or upstream keys."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "hadoop_stuff_spark"
    hits = []
    for py in sorted(root.rglob("*.py")):
        rel = str(py.relative_to(root))
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"monotonically_increasing_id\s*\(", line):
                hits.append(f"{rel}:{i}: {line.strip()}")
    assert hits == [], hits


def test_no_hugeint_decimal_oracle_output_columns(sf_dir):
    """Registry-wide oracle TYPE lint (VERDICT r7 #1b): DESCRIBE every
    catalog oracle in DuckDB and fail on HUGEINT / UHUGEINT / DECIMAL
    output columns.  DuckDB types `sum(BIGINT)` as HUGEINT (int128);
    the driver hashes at the Arrow boundary, where int128 arrives as
    decimal128 and mismatches Spark's int64 even when every value is
    identical — the exact r7 red on the three sampling oracles.  The
    fix convention: `CAST(sum(x) AS BIGINT)` at the source (all such
    sums here are provably < 2^63 at any SF)."""
    from hadoop_stuff_spark.plans.registry import _ORACLE_CATALOG
    from tests.oracle_harness import banned_oracle_columns

    bad = {}
    for name, spec in _ORACLE_CATALOG.items():
        hits = banned_oracle_columns(sf_dir, spec.oracle)
        if hits:
            bad[name] = hits
    assert bad == {}, (
        "oracles with driver-red output types (CAST ... AS BIGINT/DOUBLE "
        f"at the source): {bad}"
    )


def test_harness_reproduces_the_hugeint_driver_red(spark, sf_dir):
    """The Arrow-faithful harness must see what the driver sees: a
    value-identical result whose oracle types sum(BIGINT) as HUGEINT
    is a RED (type-family mismatch), and the CAST fix makes it green.
    This pins the r7 failure mode so the laundering fetchall() path
    can never silently come back."""
    from tests.oracle_harness import compare_query

    def fn(s, d):
        import pyspark.sql.functions as F

        from hadoop_stuff_spark.catalog import load_table

        return load_table(s, d, "documents").agg(
            F.sum("doc_id").alias("id_sum")
        )

    uncast = "SELECT sum(doc_id) AS id_sum FROM documents"
    ok, msg = compare_query(spark, sf_dir, fn, uncast)
    assert not ok and "type-family" in msg, msg

    cast = "SELECT CAST(sum(doc_id) AS BIGINT) AS id_sum FROM documents"
    ok, msg = compare_query(spark, sf_dir, fn, cast)
    assert ok, msg
