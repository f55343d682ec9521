"""Model-based quality scoring — the batch-inference stage of a training
-data pipeline (score every document with a learned quality model, filter
on the score).

Plumbing is the real thing a 100 TB scoring pass needs:
- features are computed Catalyst-side (JVM, one scan, no Python),
- the model runs in an Arrow-batched pandas UDF: one numpy call per
  batch, never per-row Python. A real model (sklearn/ONNX) drops in by
  replacing `_MODEL`'s apply step — load it lazily INSIDE the UDF (once
  per worker, not per batch) and keep the same (features in, score out)
  contract. The built-in model is a deterministic linear scorer with a
  rational squash (0.5 + z / (2·(1+|z|))) instead of a sigmoid — exact
  same +,·,/,abs algebra exists in DuckDB, so scores are bit-stable and
  ORACLE-CERTIFIABLE, which exp() would not guarantee across libm
  implementations.

Reference provenance: nearest analog is the reference's per-record
regex scoring/selection (RecordFinderMap.java:20-35); this generalizes
"match a pattern" to "score with a model" at the same place in the plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions import text as T

# weights over (len_feat, distinct_ratio, stopword_ratio, len_norm_feat);
# chosen so scores spread over (0, 1) on the testdata
_MODEL = {"w": (0.8, 1.6, -1.2, 0.6), "b": -0.4}


def quality_features(text_col: str) -> list[Column]:
    """The Catalyst-side feature vector (shared by engine and oracle):
    capped token-count, distinct ratio, stopword ratio, capped avg token
    length."""
    return [
        F.least(T.token_count(text_col) / F.lit(100.0), F.lit(1.0)).alias("__score_f_len"),
        T.distinct_token_ratio(text_col).alias("__score_f_distinct"),
        T.stopword_ratio(text_col).alias("__score_f_stop"),
        F.least(T.avg_token_length(text_col) / F.lit(8.0), F.lit(1.0)).alias("__score_f_avglen"),
    ]


from pyspark.sql.types import DoubleType


@pandas_udf(DoubleType())
def _score_batch(
    f_len: pd.Series, f_distinct: pd.Series, f_stop: pd.Series, f_avglen: pd.Series
) -> pd.Series:
    # REAL-MODEL SWAP POINT: lazily load the model once per worker here
    # (module-level cache), then batch-predict on the stacked features.
    w, b = _MODEL["w"], _MODEL["b"]
    # explicit left-to-right algebra — identical association as the oracle
    # SQL, so doubles match bit-for-bit
    z = (
        (
            ((b + w[0] * f_len.to_numpy()) + w[1] * f_distinct.to_numpy())
            + w[2] * f_stop.to_numpy()
        )
        + w[3] * f_avglen.to_numpy()
    )
    score = 0.5 + z / (2.0 * (1.0 + np.abs(z)))
    return pd.Series(score)


def score_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add a ``model_score`` column in (0, 1) — Arrow-batched inference
    over Catalyst-computed features.

    Internal feature columns use reserved ``__score_*`` names; raises if
    the input already carries one of them (or ``model_score``) rather
    than silently dropping or shadowing a user column."""
    reserved = {
        "model_score",
        "__score_f_len",
        "__score_f_distinct",
        "__score_f_stop",
        "__score_f_avglen",
    }
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"input already has reserved column(s) {sorted(clash)}; "
            "rename them before score_quality"
        )
    feats = quality_features(text_col)
    tmp = df.select("*", *feats)
    scored = tmp.withColumn(
        "model_score",
        F.round(_score_batch("__score_f_len", "__score_f_distinct", "__score_f_stop", "__score_f_avglen"), 6),
    )
    return scored.drop("__score_f_len", "__score_f_distinct", "__score_f_stop", "__score_f_avglen")


def filter_by_quality(
    df: DataFrame, threshold: float, text_col: str = "text"
) -> DataFrame:
    """Keep rows the model scores at or above ``threshold``."""
    return score_quality(df, text_col).filter(
        F.col("model_score") >= threshold
    ).drop("model_score")


def n3_model_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: per-document model scores over documents."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return score_quality(docs).select("doc_id", "model_score")


MODEL_SCORES_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS n_chars
  FROM documents
), f AS (
  SELECT doc_id,
         least(len(toks) / 100.0, 1.0) AS f_len,
         len(list_distinct(toks)) * 1.0 / len(toks) AS f_distinct,
         len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x)))
           * 1.0 / len(toks) AS f_stop,
         least(((n_chars - (len(toks) - 1)) * 1.0 / len(toks)) / 8.0, 1.0) AS f_avglen
  FROM t
), z AS (
  SELECT doc_id,
         ((((-0.4 + 0.8 * f_len) + 1.6 * f_distinct) + (-1.2) * f_stop)
          + 0.6 * f_avglen) AS z
  FROM f
)
SELECT doc_id, round(0.5 + z / (2.0 * (1.0 + abs(z))), 6) AS model_score
FROM z
"""


def calibrate_scores_by_source(
    df: DataFrame,
    score_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """Add ``score_pctl`` — the within-group percent_rank of ``score_col``
    — making scores comparable ACROSS sources (the cross-source
    calibration step of quality filtering: a raw threshold keeps wildly
    different fractions of each source, because sources have different
    score distributions; a percentile threshold keeps the same fraction
    everywhere, which is what a mixture-controlled training pipeline
    wants).

    Ties are broken by ``id_col`` so the rank — and any downstream
    percentile cut — is deterministic and engine-independent. The window
    sort runs inside per-source partitions (each a hash-shuffle bucket),
    never a global sort.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.asc(score_col), F.asc(id_col))
    return df.withColumn("score_pctl", F.percent_rank().over(w))


def n3_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: model-score every document, keep each source's top
    half by WITHIN-SOURCE percentile (not raw score), and report the
    per-source kept set (count, id-sum, mean kept score). The ranked
    score is the 6-dp-rounded ``model_score``, already oracle-certified
    value-equal, so both engines rank the identical ordering."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    ranked = calibrate_scores_by_source(
        score_quality(docs), "model_score", "source", "doc_id"
    )
    return (
        ranked.filter(F.col("score_pctl") >= 0.5)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
            F.round(F.avg("model_score"), 6).alias("avg_kept_score"),
        )
        .orderBy("source")
    )


QUALITY_CALIBRATION_SQL = """
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks, length(text) AS n_chars
  FROM documents
), f AS (
  SELECT doc_id, source,
         least(len(toks) / 100.0, 1.0) AS f_len,
         len(list_distinct(toks)) * 1.0 / len(toks) AS f_distinct,
         len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x)))
           * 1.0 / len(toks) AS f_stop,
         least(((n_chars - (len(toks) - 1)) * 1.0 / len(toks)) / 8.0, 1.0) AS f_avglen
  FROM t
), z AS (
  SELECT doc_id, source,
         ((((-0.4 + 0.8 * f_len) + 1.6 * f_distinct) + (-1.2) * f_stop)
          + 0.6 * f_avglen) AS z
  FROM f
), s AS (
  SELECT doc_id, source,
         round(0.5 + z / (2.0 * (1.0 + abs(z))), 6) AS model_score
  FROM z
), r AS (
  SELECT source, doc_id, model_score,
         percent_rank() OVER (
           PARTITION BY source ORDER BY model_score, doc_id
         ) AS pr
  FROM s
)
SELECT source, count(*) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       round(avg(model_score), 6) AS avg_kept_score
FROM r WHERE pr >= 0.5
GROUP BY source
ORDER BY source
"""
