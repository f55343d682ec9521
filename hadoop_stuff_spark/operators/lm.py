"""Statistical language-model scoring over the ``documents`` table
(SURVEY.md §2.7 N3) — the CCNet/Wenzek-et-al perplexity-filtering pass a
training-data pipeline runs to rank documents by how "natural" they are
under a corpus-wide model.

The model here is an add-k-smoothed bigram LM trained on the corpus
itself (no external artifacts — the container has no KenLM, and the
engine's contract is oracle-reproducible math): each document is scored
by its mean negative log-likelihood under

    p(w2 | w1) = (c(w1, w2) + k) / (c(w1, .) + k * V)

with V the corpus vocabulary size. Low-NLL documents look like the
corpus; high-NLL documents are outliers (gibberish, boilerplate, wrong
register) — the curation decision is a threshold or quantile on this
score, exactly as in CCNet's perplexity buckets.

Plan shape at 100 TB: the model IS an aggregate of the corpus — bigram
counts are a hash-aggregate whose state is vocabulary²-bounded (observed
bigrams only), context counts fold that same relation, and V is a 1-row
broadcast. Scoring joins each document's DISTINCT bigrams (tf-weighted,
so the join input is per-doc-distinct, not per-token) back to the model
on the bigram key — a shuffle hash join whose build side is model-sized,
which AQE turns into a broadcast join when the vocabulary is small. No
driver collect anywhere; the per-doc reduce is a map-side-combined sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions import text as T


def bigram_lm_scores(docs: DataFrame, k: float = 0.5) -> DataFrame:
    """Score every document (≥2 tokens) by mean bigram NLL and perplexity
    under the corpus's own add-k bigram model.

    Returns ``(doc_id, n_bigrams, avg_nll, ppl)`` — avg_nll rounded to
    6 dp, ppl (= exp(avg_nll)) to 2 dp, so the value-hash survives the
    ±ulp summation-order differences of distributed aggregation.
    """
    toks = docs.filter(T.token_count("text") >= 2)
    doc_bg = toks.select(
        "doc_id", F.explode(T.bigram_pairs("text")).alias("bg")
    ).select("doc_id", "bg.w1", "bg.w2")
    # Per-doc distinct-bigram term frequencies: the model join then carries
    # one row per (doc, distinct bigram) instead of one per token position.
    tf = doc_bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    model = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("n_xy"))
    ctx = model.groupBy("w1").agg(F.sum("n_xy").alias("n_x"))
    vocab = toks.select(F.explode(T.tokens("text")).alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    nll = -F.log(
        (F.col("n_xy") + F.lit(k)) / (F.col("n_x") + F.lit(k) * F.col("v"))
    )
    scored = (
        tf.join(model, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * nll).alias("s"),
            F.sum("tf").alias("n_bigrams"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("s") / F.col("n_bigrams"), 6).alias("avg_nll"),
        F.round(F.exp(F.col("s") / F.col("n_bigrams")), 2).alias("ppl"),
    )


def n3_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification query: perplexity-score the documents table under its
    own bigram model (k = 0.5)."""
    return bigram_lm_scores(spread(load_table(spark, sf_dir, "documents")))


# 0.5e0 literals keep the oracle in DOUBLE arithmetic end-to-end — a bare
# 0.5 is DECIMAL in DuckDB and would route the smoothing math through
# decimal division, diverging from Spark's double math before the round.
BIGRAM_LM_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
), tf AS (
  SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3
), model AS (
  SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS n_xy FROM tf GROUP BY 1, 2
), ctx AS (
  SELECT w1, CAST(sum(n_xy) AS BIGINT) AS n_x FROM model GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM toks)
), scored AS (
  SELECT tf.doc_id,
         sum(tf.tf * -ln((model.n_xy + 0.5e0) / (ctx.n_x + 0.5e0 * vocab.v))) AS s,
         CAST(sum(tf.tf) AS BIGINT) AS n_bigrams
  FROM tf
  JOIN model USING (w1, w2)
  JOIN ctx USING (w1)
  CROSS JOIN vocab
  GROUP BY 1
)
SELECT doc_id, n_bigrams,
       round(s / n_bigrams, 6) AS avg_nll,
       round(exp(s / n_bigrams), 2) AS ppl
FROM scored
"""


def n3_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram conditional entropy H(w₂|w₁) in bits — the
    language-model-free fluency signal (natural prose sits in a narrow
    band; keyword-stuffed or template text collapses toward 0, random
    token soup inflates toward the unigram entropy). The empirical
    counts version of what the bigram LM (``n3_bigram_lm_scores``)
    scores per document, aggregated to a per-source corpus statistic.

    Exactness: every probability is a ratio of integer counts (bigram
    count / prefix count, both window/aggregate sums); each term
    p(w₁w₂)·log2 p(w₂|w₁) is rounded to 9 dp and fixed-point-summed, so
    the cross-bigram sum is order-independent on both engines (the
    unigram-KL convention).

    Scale shape: one explode → (source, bigram) hash aggregate; prefix
    totals are a window over the BIGRAM count table (vocabulary², still
    tiny vs facts); output is one row per source."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    bi = docs.select("source", F.explode(T.bigram_pairs("text")).alias("bg"))
    counts = bi.groupBy("source", "bg.w1", "bg.w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    w_prefix = Window.partitionBy("source", "w1")
    w_src = Window.partitionBy("source")
    c1 = F.sum("c12").over(w_prefix)
    total = F.sum("c12").over(w_src)
    p12 = F.col("c12").cast("double") / total.cast("double")
    cond = F.col("c12").cast("double") / c1.cast("double")
    term_fp = F.round(-p12 * F.log2(cond) * 1000000000, 0).cast("long")
    return (
        counts.select("source", F.col("c12").alias("n"), term_fp.alias("_t"))
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.round(F.sum("_t") / 1000000000.0, 6).alias("entropy_bits"),
        )
        .orderBy("source")
    )


BIGRAM_ENTROPY_SQL = """
WITH toks AS (
  SELECT source, string_split(text, ' ') AS t FROM documents
), bi AS (
  SELECT source,
         unnest(list_transform(
           generate_series(1, greatest(len(t) - 1, 0)),
           i -> array_to_string(t[i:i+1], ' ')
         )) AS bigram
  FROM toks
), counts AS (
  SELECT source, string_split(bigram, ' ')[1] AS w1, bigram,
         count(*) AS c12
  FROM bi GROUP BY 1, 2, 3
), terms AS (
  SELECT source, c12,
         CAST(round(
           -(CAST(c12 AS DOUBLE) / CAST(sum(c12) OVER (PARTITION BY source) AS DOUBLE))
           * log2(CAST(c12 AS DOUBLE)
                  / CAST(sum(c12) OVER (PARTITION BY source, w1) AS DOUBLE))
           * 1000000000, 0) AS BIGINT) AS t
  FROM counts
)
SELECT source, CAST(sum(c12) AS BIGINT) AS n_bigrams,
       round(sum(t) / 1000000000.0, 6) AS entropy_bits
FROM terms GROUP BY source
ORDER BY source
"""
