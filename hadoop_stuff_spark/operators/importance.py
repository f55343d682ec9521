"""Data-selection via hashed importance resampling (DSIR-lite, after Xie
et al. 2023): score every candidate document by how much more likely its
hashed-unigram profile is under a TARGET distribution than under the raw
corpus distribution — the standard cheap proxy for "select web documents
that look like the high-quality corpus" in LLM pretraining pipelines.

Fully declarative, oracle-backed:

- tokens hash to ``B`` = 256 buckets via the first two hex chars of md5 —
  instr/strpos arithmetic only, so the IDENTICAL expression runs in DuckDB
  (the engine-wide portable-hash recipe, operators/sampling.py).
- the token explode feeds exactly ONE aggregate — the per-(doc, bucket)
  counts — which is checkpointed and re-aggregated for the target/raw
  bucket statistics (rc = all, tc = conditional sum; B rows) AND joined
  for scoring, so the corpus is tokenized once; totals are a 1-row frame
  broadcast back (scalar-subquery shape).
- per-bucket log-likelihood ratios use add-one smoothing and are rounded
  to 6 dp immediately after ``ln`` so a last-ulp libm divergence between
  the JVM and DuckDB cannot flip a ranking.
- per-document scores are Σ cnt·lr over the document's buckets,
  fixed-point-summed (round(x·10⁶) → bigint) so the aggregate is exact and
  order-independent across partitionings (functions/money.py rule).

At 100 TB: the token explode is the same shape as every n-gram counter in
the engine — the wide data never rides a keyed shuffle (catalog.spread's
RoundRobin respread is the documented local small-file exception); the only shuffles are the
B-bucket aggregate (map-side partial to 256 rows), the per-(doc, bucket)
count (map-side partial, keys ≈ docs × distinct-buckets), and the final
top-k which is a TakeOrderedAndProject. The ratio table is 256 rows,
broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions import text as T
from hadoop_stuff_spark.operators.sampling import _hex_prefix_val

B = 256


def _bucket(tok: Column) -> Column:
    """md5-derived bucket in [0, 256): value of the digest's first two hex
    chars — the one canonical instr-arithmetic recipe
    (sampling._hex_prefix_val), so the identical expression exists in the
    DuckDB oracle via strpos."""
    return _hex_prefix_val(F.md5(tok), n=2)


def n3_importance_resampling(
    spark: SparkSession,
    sf_dir: str,
    target_lang: str = "en",
    k: int = 25,
) -> DataFrame:
    """Top-k documents by DSIR importance score against the
    ``target_lang`` slice: (doc_id, lang, n_tokens, score). Higher score =
    hashed-unigram profile closer to the target distribution than to the
    raw pool; the property test pins that the top-k is dominated by
    target-language documents."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tb = docs.select(
        "doc_id",
        "lang",
        F.explode(T.tokens("text")).alias("tok"),
    ).select("doc_id", "lang", _bucket(F.col("tok")).alias("b"))

    # per-(doc, bucket) counts are the ONLY consumer of the token explode;
    # bucket stats re-aggregate db (≤256 rows per doc, no text) instead of
    # rescanning the corpus, and db is localCheckpointed because two
    # branches (bs and the score join) read it — one tokenize+md5 scan
    # total, not three.
    db = (
        tb.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    bs = db.groupBy("b").agg(
        F.sum("cnt").alias("rc"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.col("cnt")).otherwise(F.lit(0))
        ).alias("tc"),
    )
    tot = bs.agg(
        F.sum("rc").alias("r_total"), F.sum("tc").alias("t_total")
    )
    lr = F.round(
        F.log(
            ((F.col("tc") + 1.0) / (F.col("t_total") + B))
            / ((F.col("rc") + 1.0) / (F.col("r_total") + B))
        ),
        6,
    )
    ratio = bs.crossJoin(F.broadcast(tot)).select("b", lr.alias("lr"))
    term = F.round(F.col("cnt") * F.col("lr") * 1_000_000.0, 0).cast("long")
    return (
        db.join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round(F.sum(term) / 1_000_000.0, 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


IMPORTANCE_SQL = """
WITH tb AS (
  SELECT doc_id, lang,
         (strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) AS b
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents)
), bs AS (
  SELECT b, count(*) AS rc,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc
  FROM tb GROUP BY b
), tot AS (
  SELECT CAST(sum(rc) AS BIGINT) AS r_total, CAST(sum(tc) AS BIGINT) AS t_total FROM bs
), ratio AS (
  SELECT b, round(ln(((tc + 1.0) / (t_total + 256))
                     / ((rc + 1.0) / (r_total + 256))), 6) AS lr
  FROM bs CROSS JOIN tot
), db AS (
  SELECT doc_id, lang, b, count(*) AS cnt FROM tb GROUP BY 1, 2, 3
)
SELECT doc_id, lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       round(sum(CAST(round(cnt * lr * 1000000.0, 0) AS BIGINT)) / 1000000.0, 4) AS score
FROM db JOIN ratio USING (b)
GROUP BY doc_id, lang
ORDER BY score DESC, doc_id
LIMIT 25
"""
