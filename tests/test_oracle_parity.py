"""Differential certification of every oracle-backed registry query at
sf0.001 — the local mirror of the driver's CORRECTNESS gate."""

import pytest

from hadoop_stuff_spark.plans.registry import EXTRA_QUERIES, QUERIES
from tests.oracle_harness import compare_query

ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}
ORACLE_QUERIES = sorted(name for name, spec in ALL_QUERIES.items() if spec.oracle)
ROWS_ONLY_QUERIES = sorted(name for name, spec in ALL_QUERIES.items() if not spec.oracle)

# The default run (`pytest tests/ -q`) certifies this smoke set: one query
# per operator family — the reference pillars (grep, chunked count, wiretap
# routing, CDR parse), relational, temporal, profile, quality, exact dedup,
# brute-force similarity, kmeans, clusters, sampling and cleaning — plus the
# queries built on the shared text primitives (functions/text.py: n-grams,
# winnowing, repetition, struct bigrams, skip-grams) and on the let-bound
# int8 quantizer. Every other case is `slow` (see pytest.ini): deselected
# from the default run, executed via `pytest tests/ -m "" -q`.
SMOKE = {
    "flagship_grep_count",
    "t1_t3_a1_a3_chunked_count",
    "st2_st3_wiretap_routing",
    "t9_cdr_parse_agg",
    "q5_region_revenue",
    "asof_purchase_last_click",
    "gini_doc_length_by_source",
    "dq_orders_report",
    "n1_dedup_exact_groups",
    "n2_topk_cosine_bruteforce",
    "n2_kmeans_lloyd",
    "pagerank_copurchase_parts",
    "n3_corpus_split",
    "n3_curation_funnel_by_source",
    "n3_winnowed_fingerprints",
    "n3_repetition_signals",
    "n1_repeated_ngrams",
    "n3_collocations",
    "n3_bigram_lm_scores",
    "n3_bigram_entropy_rate",
    "n3_skipgram_cooccurrence",
    "n1_contamination_report",
    "n1_ngram_jaccard_pairs",
    "n2_embedding_quantization",
}
assert SMOKE <= set(ORACLE_QUERIES), SMOKE - set(ORACLE_QUERIES)


def _cases(names):
    return [
        pytest.param(n, marks=() if n in SMOKE else pytest.mark.slow) for n in names
    ]


@pytest.mark.parametrize("name", _cases(ORACLE_QUERIES))
def test_oracle_parity(spark, sf_dir, name):
    spec = ALL_QUERIES[name]
    ok, msg = compare_query(spark, sf_dir, spec.fn, spec.oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
@pytest.mark.slow
def test_rows_only_queries_run(spark, sf_dir, name):
    df = ALL_QUERIES[name].fn(spark, sf_dir)
    assert df.count() >= 0
    assert df.columns
