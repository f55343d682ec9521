"""Dedup operator properties (SURVEY.md §5.2): MinHash/SimHash checked
against exact oracles (n-gram Jaccard computed in plain Python), since the
approximate ops have no SQL oracle."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, LongType

from hadoop_stuff_spark.operators.dedup import (
    dedup_exact_groups,
    drop_exact_duplicates,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_signatures,
    shingles,
)

# full-sweep suite (see pytest.ini): deselected from the default
# driver-facing run, executed via `pytest tests/ -m "" -q`
pytestmark = pytest.mark.slow

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), DOC_SCHEMA)


def _py_shingles(text, n=3):
    toks = text.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_jaccard(a, b):
    sa, sb = _py_shingles(a), _py_shingles(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy cat near the river bank today"
FAR = "completely different words appear in this sentence about spark engines"


def test_exact_dedup_drops_normalized_duplicates(spark):
    df = _docs(spark, [BASE, BASE, "  THE quick brown fox jumps over the lazy dog near the river bank today ", FAR])
    # rows 0,1,2 normalize to the same fingerprint
    assert drop_exact_duplicates(df).count() == 2


def test_exact_dedup_groups_shape(spark, sf_dir):
    out = dedup_exact_groups(spark, sf_dir)
    assert out.columns == ["fp", "canonical_doc_id", "group_size"]
    total = out.agg(F.sum("group_size")).collect()[0][0]
    assert total == spark.read.parquet(f"{sf_dir}/documents.parquet").count()


def test_shingles_match_python(spark):
    df = _docs(spark, [BASE, "a b", ""])
    rows = df.select("doc_id", shingles("text", 3).alias("sh")).collect()
    by_id = {r.doc_id: set(r.sh) for r in rows}
    assert by_id[0] == _py_shingles(BASE)
    assert by_id[1] == set()  # fewer tokens than n → empty, not garbage
    assert by_id[2] == set()


def test_ngram_jaccard_exact_values(spark, tmp_path):
    """ngram_jaccard_pairs must reproduce plain-Python Jaccard exactly."""
    docs = _docs(spark, [BASE, NEAR, FAR])
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = ngram_jaccard_pairs(spark, str(tmp_path), threshold=0.0)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    expected = round(_py_jaccard(BASE, NEAR), 6)
    assert got[(0, 1)] == expected
    # FAR shares no shingle with BASE/NEAR → pair absent from inverted index
    assert (0, 2) not in got and (1, 2) not in got


def test_ngram_jaccard_hot_shingle_guard(spark, tmp_path):
    """Planted stop-phrase: a shingle shared by every doc must not explode
    the candidate set when max_doc_freq is active, and the guard must not
    change recall or values for genuine (low-df) near-dup pairs."""
    stop = "lorem ipsum dolor sit"  # yields 2 shared 3-gram shingles
    planted = [
        f"unique token{i}a token{i}b token{i}c {stop}" for i in range(40)
    ]
    docs = _docs(spark, planted + [BASE, NEAR])
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    # unguarded: all 40 planted docs pair up through the stop shingles
    unguarded = ngram_jaccard_pairs(
        spark, str(tmp_path), threshold=0.0, max_doc_freq=None
    )
    assert unguarded.count() == 40 * 39 // 2 + 1
    # guarded: stop shingles (df=40 > 10) cut -> planted pairs vanish;
    # the genuine BASE/NEAR pair survives with its exact Jaccard intact
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            spark, str(tmp_path), threshold=0.0, max_doc_freq=10
        ).collect()
    }
    assert got == {(40, 41): round(_py_jaccard(BASE, NEAR), 6)}


def test_edit_distance_pairs_planted_values(spark, tmp_path):
    """Known-distance plants: exact levenshtein values survive the
    length-band pruning, including a pair whose lengths straddle a
    bucket boundary (the explode-to-neighbor-buckets completeness
    case), and far-length docs never pair."""
    from hadoop_stuff_spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog"
    three_subs = "the quick crown fax jumps ever the lazy dog"  # dist 3
    straddle_a = "x" * 23  # k=4 -> w=5: bucket 4
    straddle_b = "x" * 23 + "yy"  # len 25: bucket 5, dist 2, straddles
    far = "z" * 200  # length gap > k: must be pruned, never compared
    docs = _docs(spark, [base, three_subs, straddle_a, straddle_b, far])
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in edit_distance_pairs(spark, str(tmp_path), max_dist=4).collect()
    }
    assert got == {(0, 1): 3, (2, 3): 2}


def test_minhash_recall_vs_exact(spark, sf_dir):
    """Every exact near-dup pair (jaccard >= 0.5) must be a MinHash-LSH
    candidate with estimated jaccard close to truth."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(spark, sf_dir, threshold=0.5).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cand = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_candidates(docs).collect()
    }
    assert exact, "testdata should contain near-dup documents"
    missing = [p for p in exact if p not in cand]
    assert not missing, f"LSH missed exact pairs: {missing}"
    for pair, true_j in exact.items():
        assert abs(cand[pair] - true_j) < 0.25, (pair, cand[pair], true_j)


def test_simhash_properties(spark):
    from hadoop_stuff_spark.functions import text as T
    from hadoop_stuff_spark.operators.dedup import _simhash64_udf

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    df = _docs(spark, [BASE, BASE, NEAR, FAR])
    sigs = {
        r.doc_id: r.simhash
        for r in df.select("doc_id", _simhash64_udf(T.tokens("text")).alias("simhash")).collect()
    }
    # identical text → identical signature
    assert sigs[0] == sigs[1]
    # near-dup → much closer than unrelated text
    near_d = hamming(sigs[0], sigs[2])
    far_d = hamming(sigs[0], sigs[3])
    assert near_d < far_d
    assert near_d <= 12
    assert far_d > 16


def test_embedding_cosine_dups_exact_vs_numpy(spark, sf_dir):
    """Exact embedding-cosine near-dup pairs must match a NumPy pairwise
    computation over the same parquet (pair set + similarity values)."""
    import numpy as np
    import pandas as pd

    from hadoop_stuff_spark.operators.dedup import embedding_cosine_dups

    out = {
        (r.vec_a, r.vec_b): r.sim
        for r in embedding_cosine_dups(spark, sf_dir, threshold=0.4).collect()
    }
    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    mat = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    want = {}
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            s = round(float(sims[i, j]), 6)
            if s >= 0.4:
                a, b = int(ids[i]), int(ids[j])
                want[(min(a, b), max(a, b))] = s
    assert want, "testdata should contain cosine pairs above threshold"
    assert set(out) == set(want)
    for pair, s in want.items():
        assert abs(out[pair] - s) <= 2e-6, (pair, out[pair], s)


def test_embedding_cosine_lsh_recall_and_precision(spark, sf_dir):
    """Sign-sketch LSH near-dup: every reported pair is a true pair (exact
    re-rank ⇒ precision 1.0) and recall vs the exact op is high. Seeded
    hyperplanes make this deterministic."""
    from hadoop_stuff_spark.operators.dedup import (
        embedding_cosine_dups,
        embedding_cosine_dups_lsh,
    )

    exact = {(r.vec_a, r.vec_b) for r in embedding_cosine_dups(spark, sf_dir).collect()}
    approx = {(r.vec_a, r.vec_b) for r in embedding_cosine_dups_lsh(spark, sf_dir).collect()}
    assert exact
    assert approx <= exact  # precision 1.0 after exact re-rank
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.75, f"recall {recall:.3f} over {len(exact)} true pairs"


def test_simhash_signatures_table(spark, sf_dir):
    out = simhash_signatures(spark, sf_dir)
    n = out.count()
    assert n == spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert out.filter(F.col("simhash").isNull()).count() == 0
