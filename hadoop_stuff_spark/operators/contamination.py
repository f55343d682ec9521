"""Train/test decontamination (LLM-pipeline north-star, SURVEY.md §2.7 N3):
flag or drop corpus documents whose word n-grams overlap a held-out
benchmark/test set — the standard guard against benchmark leakage when
assembling training corpora.

Scale design: the benchmark side is tiny relative to the corpus (MBs vs
100 TB), so its distinct shingle set is **broadcast** — the corpus-side
probe is a map-side hash join on the exploded shingles of one corpus scan;
no corpus-sized shuffle anywhere. The per-doc overlap aggregate shuffles
only (doc_id, count) pairs.

Reference provenance: the reference has no decontamination (it predates
LLM pipelines); this extends its grep/selector family
(RecordFinderMap.java:20-35 — match records against a pattern set) from
regexes to n-gram set membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions.text import shingles

HOLDOUT_MOD = 20  # deterministic held-out slice: doc_id % 20 == 0


def overlap_report(
    corpus: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-corpus-doc contamination report: distinct n-gram shingles shared
    with ANY holdout document (n_contaminated), total shingles (n_sh), and
    the contaminated fraction. Docs with zero overlap appear with 0.

    Single corpus pass (r12): both counts fold in one grouped aggregate
    over the broadcast-probed exploded rows — n_sh is the count of the
    doc's (distinct-by-construction) shingles, n_contaminated the count
    of those that hit the holdout set. The previous two-branch shape
    (separate ``sizes`` and ``hits`` relations joined back) evaluated
    the corpus' shingle transform TWICE and, fed from a pipeline like
    curate's, re-executed the whole upstream subtree per branch.
    (A first attempt carried ``F.size(sh)`` alongside the explode —
    Catalyst placed it in the post-Generate projection and re-evaluated
    the whole shingle chain once PER EXPLODED ROW, quadratic per doc:
    1.4 s → 45 s at sf0.1. Counting the exploded rows instead is the
    same integer and genuinely single-pass.) explode_outer keeps
    zero-shingle docs (one NULL-shingle row that matches nothing and
    counts zero), exactly the rows the old sizes-side left join
    preserved; every output value is unchanged."""
    sh = shingles(text_col, n)
    holdout_sh = holdout.select(F.explode(sh).alias("shingle")).distinct()
    probe = F.broadcast(holdout_sh.select("shingle", F.lit(1).alias("_hit")))
    exploded = corpus.select(F.col(id_col), F.explode_outer(sh).alias("shingle"))
    return (
        exploded.join(probe, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("shingle").cast("long").alias("n_sh"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "contam_frac", F.round(F.col("n_contaminated") / F.col("n_sh"), 6)
        )
    )


def decontaminate(
    corpus: DataFrame, holdout: DataFrame, max_contamination: float
) -> DataFrame:
    """Corpus rows whose contaminated 3-gram fraction (`overlap_report`'s
    ``contam_frac``) is at most ``max_contamination``; 0.0 drops a doc that
    shares any 3-gram with the holdout. Rows are ``doc_id``-keyed ``text``
    documents and keep their columns. The report and the anti-join both
    read ``corpus``, so pass a materialized or cheap-to-recompute frame
    (`Engine.curate` passes checkpoints)."""
    contaminated = (
        overlap_report(corpus, holdout)
        .filter(F.col("contam_frac") > max_contamination)
        .select("doc_id")
    )
    return corpus.join(contaminated, "doc_id", "left_anti")


def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: treat doc_id % 20 == 0 as the held-out benchmark,
    the rest as training corpus; report per-doc 3-gram contamination."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    holdout = docs.filter(F.col("doc_id") % HOLDOUT_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % HOLDOUT_MOD != 0)
    return overlap_report(corpus, holdout)


CONTAMINATION_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle
  FROM (
    SELECT doc_id,
           list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                          i -> array_to_string(toks[i:i+2], ' ')) AS sh_list
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
), holdout_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh WHERE doc_id % 20 <> 0 GROUP BY 1
), hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM sh
  WHERE doc_id % 20 <> 0 AND shingle IN (SELECT shingle FROM holdout_sh)
  GROUP BY 1
)
SELECT s.doc_id,
       CAST(s.n_sh AS BIGINT) AS n_sh,
       CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(coalesce(h.n_contaminated, 0) * 1.0 / s.n_sh, 6) AS contam_frac
FROM sizes s LEFT JOIN hits h USING (doc_id)
"""
