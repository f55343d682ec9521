"""Train/test decontamination and repetition-signal behavior tests on
hand-built corpora with known overlaps; the DuckDB-differential
certification queries live in EXTRA_QUERIES (picked up by
test_oracle_parity)."""

from pyspark.sql import functions as F

from hadoop_stuff_spark.functions.text import bigrams, top_element_count
from hadoop_stuff_spark.operators.contamination import (
    decontaminate,
    overlap_report,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


HOLDOUT = [(100, "the quick brown fox jumps over the lazy dog")]
CORPUS = [
    # contains the holdout 3-gram "quick brown fox" (and more): contaminated
    (1, "we saw the quick brown fox jumps again today"),
    # shares words but no 3-gram run: clean
    (2, "brown dog and lazy fox sleep"),
    # disjoint: clean
    (3, "spark shuffles partitions across executors"),
]


def test_overlap_report_counts(spark):
    rep = overlap_report(_docs(spark, CORPUS), _docs(spark, HOLDOUT)).collect()
    by_id = {r["doc_id"]: r for r in rep}
    assert set(by_id) == {1, 2, 3}
    # doc 1: corpus shingles "the quick brown","quick brown fox","brown fox jumps"
    # all appear in the holdout doc
    assert by_id[1]["n_contaminated"] == 3
    assert by_id[2]["n_contaminated"] == 0
    assert by_id[3]["n_contaminated"] == 0
    assert by_id[3]["contam_frac"] == 0.0
    assert by_id[1]["n_sh"] == 7  # 9 tokens -> 7 trigrams, all distinct


def test_decontaminate_drops_only_overlapping(spark):
    corpus = _docs(spark, CORPUS)
    clean = decontaminate(corpus, _docs(spark, HOLDOUT), 0.0)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]
    assert clean.columns == corpus.columns
    # the rule is a fraction: doc 1 shares 3 of its 7 shingles (0.428571),
    # so it survives a 0.5 cap and falls at 0.4
    lax = decontaminate(corpus, _docs(spark, HOLDOUT), 0.5)
    assert sorted(r["doc_id"] for r in lax.collect()) == [1, 2, 3]
    tight = decontaminate(corpus, _docs(spark, HOLDOUT), 0.4)
    assert sorted(r["doc_id"] for r in tight.collect()) == [2, 3]


def test_repetition_helpers_known_values(spark):
    df = spark.createDataFrame([("a b a b a c",)], "t: string")
    row = df.select(
        top_element_count(F.split("t", " ")).alias("top_tok"),
        top_element_count(bigrams("t")).alias("top_big"),
        F.size(bigrams("t")).alias("n_big"),
    ).collect()[0]
    assert row["top_tok"] == 3  # "a" appears 3 times
    assert row["top_big"] == 2  # "a b" appears twice among 5 bigrams
    assert row["n_big"] == 5
    single = spark.createDataFrame([("solo",)], "t: string")
    assert single.select(F.size(bigrams("t")).alias("n")).collect()[0]["n"] == 0


def test_overlap_report_zero_shingle_doc_behavior_unchanged(spark):
    """r12 single-pass shape: a doc too short to form one 3-gram is
    KEPT by the explode_outer (one NULL-shingle row, counts 0-and-0) —
    the same row the old sizes-side left join carried — and therefore
    still hits the same ANSI 0/0 divide on contam_frac the old
    two-branch shape raised. Pinning the crash proves the rewrite
    preserved the edge-case behavior exactly rather than silently
    dropping short docs (a plain explode would have vanished them)."""
    import pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    corpus = _docs(
        spark,
        [
            (1, "too short"),  # 2 tokens -> zero trigrams
            (2, "the quick brown fox jumps"),  # overlaps the holdout
        ],
    )
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        overlap_report(corpus, _docs(spark, HOLDOUT)).collect()
    # without the degenerate doc the counts are exact
    rep = overlap_report(
        _docs(spark, [(2, "the quick brown fox jumps")]),
        _docs(spark, HOLDOUT),
    ).collect()
    assert rep[0]["n_sh"] == 3 and rep[0]["n_contaminated"] == 3
