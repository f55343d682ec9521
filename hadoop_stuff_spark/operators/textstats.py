"""Text-analysis queries over the ``documents`` table (SURVEY.md §2.7 N3):
token counting, quality scoring, language ID, fingerprinting. All built on
hadoop_stuff_spark.functions.text — pure Catalyst expressions, one scan per
query, no shuffle except the final (tiny) aggregate where present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions import text as T


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.size(T.tokens_regex("text")).alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


TOKEN_COUNTS_SQL = r"""
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics + composite score (rounded for the
    oracle's value-hash)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.round(T.avg_token_length("text"), 4).alias("avg_token_len"),
        F.round(T.distinct_token_ratio("text"), 4).alias("distinct_ratio"),
        F.round(T.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(T.quality_score("text"), 4).alias("quality"),
    )


TEXT_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS toks,
         length(text) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         (n_chars - (len(toks) - 1)) * 1.0 / len(toks) AS avg_token_len,
         len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_ratio,
         len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) * 1.0 / len(toks) AS stopword_ratio
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       round(avg_token_len, 4) AS avg_token_len,
       round(distinct_ratio, 4) AS distinct_ratio,
       round(stopword_ratio, 4) AS stopword_ratio,
       round(0.5 * distinct_ratio
             + 0.3 * least(avg_token_len / 8.0, 1.0)
             + 0.2 * (1.0 - stopword_ratio), 4) AS quality
FROM m
"""


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring fused into ONE scan of documents
    (consolidates the former n3_token_counts / n3_text_quality queries —
    same Catalyst expressions, one pass instead of two; at 100 TB a second
    full-corpus scan is the thing to avoid)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.size(T.tokens_regex("text")).alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(T.avg_token_length("text"), 4).alias("avg_token_len"),
        F.round(T.distinct_token_ratio("text"), 4).alias("distinct_ratio"),
        F.round(T.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(T.quality_score("text"), 4).alias("quality"),
    )


TEXT_STATS_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS toks,
         length(text) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id, text, n_chars,
         len(toks) AS n_tokens,
         (n_chars - (len(toks) - 1)) * 1.0 / len(toks) AS avg_token_len,
         len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_ratio,
         len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) * 1.0 / len(toks) AS stopword_ratio
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       round(avg_token_len, 4) AS avg_token_len,
       round(distinct_ratio, 4) AS distinct_ratio,
       round(stopword_ratio, 4) AS stopword_ratio,
       round(0.5 * distinct_ratio
             + 0.3 * least(avg_token_len / 8.0, 1.0)
             + 0.2 * (1.0 - stopword_ratio), 4) AS quality
FROM m
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID per document, with per-language hit scores."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    scores = T.lang_scores("text")
    return docs.select(
        "doc_id",
        *[score.alias(f"score_{lang}") for lang, score in sorted(scores.items())],
        T.lang_id("text").alias("pred_lang"),
    )


LANGUAGE_ID_SQL = """
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT doc_id,
    CAST(len(list_intersect(toks, ['der','die','und','von','ist'])) AS INTEGER) AS score_de,
    CAST(len(list_intersect(toks, ['the','a','of','and','is'])) AS INTEGER) AS score_en,
    CAST(len(list_intersect(toks, ['el','la','y','de','es'])) AS INTEGER) AS score_es,
    CAST(len(list_intersect(toks, ['le','la','et','de','est'])) AS INTEGER) AS score_fr
  FROM t
), ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM (
    SELECT doc_id, 'de' AS lang, score_de AS score FROM s
    UNION ALL SELECT doc_id, 'en', score_en FROM s
    UNION ALL SELECT doc_id, 'es', score_es FROM s
    UNION ALL SELECT doc_id, 'fr', score_fr FROM s
  )
)
SELECT s.doc_id, s.score_de, s.score_en, s.score_es, s.score_fr,
       CASE WHEN r.score <= 0 THEN 'und' ELSE r.lang END AS pred_lang
FROM s JOIN ranked r ON s.doc_id = r.doc_id AND r.rn = 1
"""


def winnowed_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints per document (k=3-gram hashes,
    window w=4): fingerprint-set size + lexicographic min fingerprint —
    enough to certify the whole scheme against the oracle's list-
    comprehension reimplementation."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # fps in its own projection: both consumers read the one array
    fps = docs.select("doc_id", T.winnow_fingerprints("text", k=3, w=4).alias("fps"))
    return fps.select(
        "doc_id",
        F.size("fps").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
    )


WINNOW_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) - 2 >= 1
              THEN [md5(array_to_string(toks[i:i+2], ' ')) FOR i IN range(1, len(toks) - 2 + 1)]
              ELSE []::VARCHAR[] END AS hashes
  FROM t
), w AS (
  SELECT doc_id,
         CASE WHEN len(hashes) = 0 THEN []::VARCHAR[]
              WHEN len(hashes) - 3 >= 1
              THEN [list_min(hashes[i:i+3]) FOR i IN range(1, len(hashes) - 3 + 1)]
              ELSE [list_min(hashes)] END AS wins
  FROM g
)
SELECT doc_id,
       CAST(len(list_distinct(wins)) AS INTEGER) AS n_fps,
       list_min(wins) AS min_fp
FROM w
"""


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-word
    fraction, top-word fraction, top-bigram fraction. High values flag
    boilerplate/spam for corpus filtering.

    Pure Catalyst HOFs over the token array — one scan, zero shuffle (the
    per-doc histogram is computed inside the row via transform/filter, not
    via explode+groupBy), so at 100 TB this runs at scan speed map-only."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = T.tokens("text")
    bigs = T.bigrams("text")
    n_toks = F.size(toks)
    n_bigs = F.size(bigs)
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.round(T.dup_word_frac("text"), 6).alias("dup_word_frac"),
        F.round(T.top_element_count(toks) / n_toks, 6).alias("top_word_frac"),
        F.when(
            n_bigs >= 1, F.round(T.top_element_count(bigs) / n_bigs, 6)
        ).alias("top_bigram_frac"),
    )


REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), b AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) - 1 >= 1
              THEN [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]
              ELSE []::VARCHAR[] END AS bigs
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       round(1.0 - len(list_distinct(toks)) * 1.0 / len(toks), 6) AS dup_word_frac,
       round(list_max(list_transform(list_distinct(toks),
                                     w -> len(list_filter(toks, x -> x = w))))
             * 1.0 / len(toks), 6) AS top_word_frac,
       CASE WHEN len(bigs) >= 1
            THEN round(list_max(list_transform(list_distinct(bigs),
                                               w -> len(list_filter(bigs, x -> x = w))))
                       * 1.0 / len(bigs), 6)
            ELSE NULL END AS top_bigram_frac
FROM b
"""


def vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 words by total term frequency (ties by
    word), with document frequency — the tokenizer-vocab building block.

    explode → hash-aggregate: the shuffle carries (word, partial counts)
    only, with map-side partial aggregation; top-k is a
    TakeOrderedAndProject, never a global sort. At 100 TB the word-key
    space is small (vocabulary-sized), so the agg state stays tiny."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("word"))
    return (
        tok.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("term_freq"), "word")
        .limit(100)
    )


VOCABULARY_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT word, CAST(count(*) AS BIGINT) AS term_freq,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM tok GROUP BY word
ORDER BY term_freq DESC, word
LIMIT 100
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most characteristic term per document by TF-IDF (tf/doclen ×
    ln(N/df)), ties broken by word — keyword extraction for corpus
    curation. Two hash-agg shuffles (doc-term tf, word df) + one join on
    word; the corpus-size scalar is a broadcast single-row aggregate, not
    a driver collect."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.size(T.tokens("text")).alias("n_tokens"),
        F.explode(T.tokens("text")).alias("word"),
    )
    tf = tok.groupBy("doc_id", "n_tokens", "word").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf") / F.col("n_tokens"))
            * F.log(F.col("n_docs") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("word").alias("top_term"),
            F.round("tfidf", 6).alias("tfidf"),
        )
    )


TFIDF_SQL = """
WITH tok AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         unnest(string_split(text, ' ')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, n_tokens, word, count(*) AS tf
  FROM tok GROUP BY 1, 2, 3
), dfreq AS (
  SELECT word, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.word,
         (tf.tf * 1.0 / tf.n_tokens) * ln(n.n_docs * 1.0 / dfreq.df) AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY (tf.tf * 1.0 / tf.n_tokens)
                                     * ln(n.n_docs * 1.0 / dfreq.df) DESC,
                                     tf.word) AS rn
  FROM tf JOIN dfreq USING (word) CROSS JOIN n
)
SELECT doc_id, word AS top_term, round(tfidf, 6) AS tfidf
FROM scored WHERE rn = 1
"""


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 of normalized text) + per-source
    distinct-fingerprint counts — the exact-dedup building block."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("source", T.fingerprint_md5("text").alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
        )
    )


FINGERPRINTS_SQL = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) AS n_distinct
FROM documents GROUP BY source
"""


def n3_collocations(
    spark: SparkSession, sf_dir: str, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Collocation mining: the top-k bigrams whose observed frequency most
    exceeds the independence assumption (lift = p(xy)/(p(x)p(y)), plus its
    log2 as PMI) — the phrase-discovery pass a tokenizer-training pipeline
    runs over a corpus.

    Exactness: lift is a ratio of exact integer counts evaluated with the
    same expression tree on both engines; PMI's log2 rides on top and is
    rounded to 4 dp. Plan shape: bigrams are built in-row by
    :func:`T.bigram_pairs` (no posexplode self-join), so the
    corpus is scanned once for bigrams and once for unigrams; the joins
    are counts-to-counts (vocab-sized, far below corpus size) and the
    grand total is a 1-row broadcast."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.filter(T.token_count("text") >= 2)
    bigrams = toks.select(F.explode(T.bigram_pairs("text")).alias("bg"))
    big_counts = bigrams.groupBy("bg.w1", "bg.w2").agg(F.count(F.lit(1)).alias("n_xy"))
    uni = (
        toks.select(F.explode(T.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    totals = big_counts.agg(F.sum("n_xy").alias("n_total"))
    ratio = (F.col("n_xy") * 1.0 * F.col("n_total")) / (
        F.col("n_x") * 1.0 * F.col("n_y")
    )
    return (
        big_counts.filter(F.col("n_xy") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_y")), "w2")
        .join(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_xy",
            F.round(ratio, 4).alias("lift"),
            F.round(F.log2(ratio), 4).alias("pmi"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(k)
    )


COLLOCATIONS_SQL = """
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
), bc AS (
  SELECT w1, w2, count(*) AS n_xy FROM big GROUP BY 1, 2
), uc AS (
  SELECT w, count(*) AS n_w FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_xy) AS BIGINT) AS n_total FROM bc
)
SELECT w1, w2, n_xy,
       round((n_xy * 1.0 * n_total) / (x.n_w * 1.0 * y.n_w), 4) AS lift,
       round(log2((n_xy * 1.0 * n_total) / (x.n_w * 1.0 * y.n_w)), 4) AS pmi
FROM bc
JOIN uc x ON bc.w1 = x.w
JOIN uc y ON bc.w2 = y.w
CROSS JOIN tot
WHERE n_xy >= 5
ORDER BY lift DESC, w1, w2
LIMIT 50
"""


# Fixed query-term set for the BM25 certification query (terms that occur
# in the synthetic phrase vocabulary with mid-range document frequency).
BM25_TERMS = ("vector", "join", "data")


def bm25_scores(
    docs: DataFrame,
    terms: tuple[str, ...] = BM25_TERMS,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a fixed term set, as one scan
    plus a 1-row corpus-stats broadcast: (doc_id, score).

    Per-term tf is an in-row ``size(filter(tokens, …))`` HOF; document
    frequencies, corpus size and average length all come from ONE
    aggregate row broadcast back over the corpus (scalar-subquery shape),
    so the cost at any scale is two corpus scans and no shuffle wider
    than the final ranking consumer. The score sum is a fixed-arity
    expression (not an aggregate over rows), so it is order-independent
    by construction."""
    toks = docs.select("doc_id", T.tokens("text").alias("t"))
    tf_cols = [
        F.expr(f"size(filter(t, x -> x = '{t}'))").alias(f"tf_{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = toks.select("doc_id", F.size("t").alias("dl"), *tf_cols)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    avgdl = F.col("sum_dl") * 1.0 / F.col("n_docs")
    parts = []
    for i in range(len(terms)):
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}")
        parts.append(
            idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * F.col("dl") / avgdl))
        )
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    return per_doc.join(F.broadcast(stats)).select(
        "doc_id", F.round(score, 4).alias("score")
    )


def _bm25_sql_score(terms: tuple[str, ...] = BM25_TERMS, where: str = "") -> str:
    tf_cols = ", ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * (1.2 + 1.0))"
        f" / (tf_{i} + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl * 1.0 / n_docs)))"
        for i in range(len(terms))
    )
    return f"""
WITH per_doc AS (
  SELECT doc_id, len(t) AS dl, {tf_cols}
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents{where})
), stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl, {df_cols}
  FROM per_doc
)
SELECT doc_id, round({score}, 4) AS score
FROM per_doc CROSS JOIN stats
"""


def bm25_rank_topk(docs: DataFrame, k: int = 10) -> DataFrame:
    """Top-k BM25 ranking frame (doc_id, score, rk) over any documents
    frame — the ONE site encoding the ranking contract (score desc,
    doc_id tiebreak), shared by :func:`n3_bm25_topk` and the hybrid RRF
    keyword arm so their ranks can never de-sync.

    The global top-k is an ``orderBy().limit()`` so Catalyst plans
    TakeOrderedAndProject (per-partition heaps + driver merge of k rows),
    NOT an unpartitioned window that would drag every scored row to one
    task; the rank column is a window over the k survivors only."""
    top = bm25_scores(docs).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.partitionBy().orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(
        "doc_id", "score", F.row_number().over(w).cast("int").alias("rk")
    )


def n3_bm25_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Keyword retrieval: top-k documents by BM25 relevance to the fixed
    query-term set — the sparse half of a hybrid RAG retriever."""
    return bm25_rank_topk(spread(load_table(spark, sf_dir, "documents")), k)


BM25_TOPK_SQL = f"""
WITH scored AS ({_bm25_sql_score()})
SELECT doc_id, score, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM scored
)
WHERE rk <= 10
"""


def n3_oov_rate_by_source(
    spark: SparkSession, sf_dir: str, vocab_size: int = 20
) -> DataFrame:
    """Tokenizer vocabulary coverage: per-source out-of-vocabulary rate
    against the corpus's own top-``vocab_size`` token vocabulary — the
    coverage check a tokenizer-training pipeline runs per ingest source
    before committing to a vocab (a source with a high OOV rate will
    fragment into bytes/unknowns at training time).

    Plan shape: one token-level aggregate builds the frequency table
    (map-side partial to vocab-cardinality rows), the vocabulary is a
    deterministic top-k (count desc, token asc — TakeOrderedAndProject)
    broadcast back over a second token scan as a LEFT join (miss = OOV),
    and the per-source rollup is a tiny conditional aggregate. The wide
    text column never rides a KEYED shuffle — only (source, token) pairs
    do (the RoundRobin respread of catalog.spread is the documented
    local small-file exception, a no-op at scale).

    vocab_size defaults to 20 because the synthetic corpus has only 31
    distinct tokens — a top-1000 vocab would cover everything and report
    0.0 everywhere; at 20 the tail 11 tokens are OOV and rates vary by
    source (a real corpus uses 30k-100k)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", F.explode(T.tokens("text")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") * 1.0 / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


OOV_RATE_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok LIMIT 20
  )
)
SELECT source,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY source
ORDER BY source
"""


# Character alphabet for the entropy scan — the synthetic corpus is
# lowercase words joined by single spaces, so [a-z ] covers every byte;
# characters outside the alphabet simply don't contribute (n_counted
# records how much of the document the entropy actually describes).
ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def add_char_entropy(
    df: DataFrame, text_col: str = "text", alphabet: str = ENTROPY_ALPHABET
) -> DataFrame:
    """Append ``n_counted`` and ``entropy_nats`` — Shannon entropy (nats)
    of the character distribution of ``text_col`` over ``alphabet`` — the
    gibberish/boilerplate detector of a text-quality pipeline (natural
    prose sits near the language's ~2.8-nat char entropy; repeated
    padding collapses toward 0, random bytes push toward ln(|alphabet|)).

    Implementation is deliberately scalar: per character c, count(c) =
    len(text) - len(replace(text, c, '')), then -sum p ln p over the
    |alphabet| fixed terms. That is |alphabet| substring scans per row in
    ONE narrow stage — no explode, no shuffle of corpus-length char rows
    (the explode formulation shuffles every character of a 100 TB corpus;
    this shuffles nothing). The identical expression tree exists in ANSI
    SQL, and the fixed left-associated term order makes the float sum
    deterministic on both engines.

    The counts and their total are STAGED as named intermediate columns
    (computed once, referenced many times) rather than one flat
    expression: inlining each replace() chain at every use site generated
    a Project whose processNext() exceeded Janino's 64 KB method limit —
    whole-stage codegen silently fell back to interpreted eval AND
    re-evaluated each substring scan O(|alphabet|) times. Multi-referenced
    non-trivial aliases survive CollapseProject, so this compiles to one
    codegen stage with each count in a local (pinned by a
    codegen.fallback=false test).
    """
    c_names = [f"__ent_c{i}" for i in range(len(alphabet))]
    clash = set(c_names + ["__ent_t", "n_counted", "entropy_nats"]).intersection(
        df.columns
    )
    if clash:
        raise ValueError(f"input already has reserved column(s) {sorted(clash)}")
    L = F.length(text_col)
    staged = df.select(
        "*",
        *[
            (L - F.length(F.replace(F.col(text_col), F.lit(ch)))).alias(n)
            for n, ch in zip(c_names, alphabet)
        ],
    )
    total = None
    for n in c_names:
        total = F.col(n) if total is None else total + F.col(n)
    staged = staged.select("*", total.cast("double").alias("__ent_t"))
    h = None
    for n in c_names:
        c = F.col(n)
        p = c / F.col("__ent_t")
        term = F.when(c > 0, -p * F.log(p)).otherwise(F.lit(0.0))
        h = term if h is None else h + term
    return staged.select(
        "*",
        F.col("__ent_t").cast("long").alias("n_counted"),
        h.alias("entropy_nats"),
    ).drop(*c_names, "__ent_t")


def n3_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification query: per-document char-distribution entropy."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return add_char_entropy(docs).select(
        "doc_id",
        "n_counted",
        F.round("entropy_nats", 6).alias("entropy_nats"),
    )


def _char_entropy_sql(alphabet: str = ENTROPY_ALPHABET) -> str:
    def q(ch: str) -> str:
        return "' '" if ch == " " else f"'{ch}'"

    cnt_cols = ",\n         ".join(
        f"length(text) - length(replace(text, {q(ch)}, '')) AS c{i}"
        for i, ch in enumerate(alphabet)
    )
    total = " + ".join(f"c{i}" for i in range(len(alphabet)))
    terms = "\n         + ".join(
        f"(CASE WHEN c{i} > 0 THEN -(c{i} / t) * ln(c{i} / t) ELSE 0e0 END)"
        for i in range(len(alphabet))
    )
    return f"""
WITH cnt AS (
  SELECT doc_id,
         {cnt_cols}
  FROM documents
), tot AS (
  SELECT doc_id, *, CAST({total} AS DOUBLE) AS t FROM cnt
)
SELECT doc_id, CAST({total} AS BIGINT) AS n_counted,
       round({terms}, 6) AS entropy_nats
FROM tot
"""


CHAR_ENTROPY_SQL = _char_entropy_sql()


def zipf_slope_by_source(docs: DataFrame) -> DataFrame:
    """Zipf rank-frequency fit per source: regress ln(term frequency) on
    ln(rank) within each source and report the slope and R² — the
    corpus-health diagnostic of a data pipeline (natural language sits
    near slope -1; templated/synthetic text flattens toward 0, and a
    source whose slope shifts release-over-release has changed character).

    Plan shape: one token-level hash aggregate to (source, term, count) —
    vocabulary-sized per source — then a per-source window rank (the sort
    is within vocab-sized partitions, never corpus rows) and a tiny
    regr_slope/regr_r2 aggregate. Ranking orders by (count DESC, term) so
    ties are deterministic and both engines rank identically.
    """
    tok = docs.select("source", F.explode(T.tokens("text")).alias("w"))
    counts = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n_w"))
    w = Window.partitionBy("source").orderBy(F.desc("n_w"), F.asc("w"))
    ranked = counts.withColumn("rank", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.expr("regr_slope(ln(n_w), ln(rank))"), 6).alias(
                "zipf_slope"
            ),
            F.round(F.expr("regr_r2(ln(n_w), ln(rank))"), 6).alias("fit_r2"),
        )
        .orderBy("source")
    )


def n3_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification query: per-source Zipf slope over the documents table."""
    return zipf_slope_by_source(spread(load_table(spark, sf_dir, "documents")))


ZIPF_SQL = """
WITH counts AS (
  SELECT source, w, count(*) AS n_w
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2
), ranked AS (
  SELECT source, n_w,
         row_number() OVER (PARTITION BY source ORDER BY n_w DESC, w) AS rank
  FROM counts
)
SELECT source, count(*) AS n_terms,
       round(regr_slope(ln(n_w), ln(rank)), 6) AS zipf_slope,
       round(regr_r2(ln(n_w), ln(rank)), 6) AS fit_r2
FROM ranked GROUP BY source
ORDER BY source
"""


def bpe_merge_candidates(docs: DataFrame, k: int = 50) -> DataFrame:
    """First iteration of BPE tokenizer training: the top-k adjacent
    character pairs by corpus frequency (the pair a BPE trainer would
    merge first), ties broken by pair.

    Plan shape is the one that matters at 100 TB: the corpus scan
    reduces IMMEDIATELY to (word, count) — a hash aggregate whose state
    is vocabulary-sized — and the character-pair explode runs over the
    DISTINCT vocabulary only, weighted by word count. A naive per-token
    explode would shuffle every character position of the corpus;
    this shuffles ~|vocab| × avg_word_len rows regardless of corpus
    size. Pairs are substr(word, i, 2) — no char-array split, one
    expression on both engines.
    """
    words = (
        docs.select(F.explode(T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "n",
        F.explode(
            F.expr("transform(sequence(1, length(word)-1), i -> substr(word, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(k)
    )


def n3_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification query: top-50 BPE merge candidates over documents."""
    return bpe_merge_candidates(spread(load_table(spark, sf_dir, "documents")))


BPE_MERGE_SQL = """
WITH words AS (
  SELECT word, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY word
  HAVING length(word) >= 2
), pairs AS (
  SELECT n, substr(word, i, 2) AS pair
  FROM (SELECT word, n, unnest(generate_series(1, length(word) - 1)) AS i FROM words)
)
SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 50
"""


def skipgram_cooccurrence(
    docs: DataFrame, window: int = 2, k: int = 100
) -> DataFrame:
    """Skip-gram (word, context) co-occurrence counts — the training-pair
    extraction word2vec/GloVe-style embedding pipelines run over a
    corpus: every ordered token pair at distance 1..``window`` within a
    document, top-``k`` by corpus count (ties: word, then context).

    Plan shape: the pair list is built INSIDE one Catalyst expression
    (nested transform over the token index sequence, flattened) — a
    single scan + explode, no positional self-join (joining the exploded
    (doc, pos, token) relation to itself on |pos_a - pos_b| <= window is
    the naive shape; it shuffles every token position TWICE and the
    range predicate defeats the equi-join). Partial aggregation folds
    pairs per partition, so the exchange carries distinct-pair rows,
    not token positions.
    """

    def pair_list(toks):
        n = F.size(toks)
        pairs = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.least(i + F.lit(window), n)),
                lambda j: F.struct(
                    F.element_at(toks, i).alias("w"),
                    F.element_at(toks, j).alias("c"),
                ),
            ),
        )
        # null under 2 tokens: explode emits no rows for it
        return F.when(n >= 2, F.flatten(pairs))

    pairs = docs.select(F.explode(T.let(T.tokens("text"), pair_list)).alias("p"))
    return (
        pairs.select("p.w", "p.c")
        .groupBy("w", "c")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("w"), F.asc("c"))
        .limit(k)
    )


def n3_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: top-100 window-2 skip-gram pairs over documents."""
    return skipgram_cooccurrence(spread(load_table(spark, sf_dir, "documents")))


SKIPGRAM_SQL = """
WITH t AS (
  SELECT string_split(text, ' ') AS toks FROM documents
), pos AS (
  SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
  FROM t WHERE len(toks) >= 2
), pairs AS (
  SELECT toks[i] AS w, toks[i + d] AS c
  FROM (SELECT toks, i, unnest(generate_series(1, 2)) AS d FROM pos)
  WHERE i + d <= len(toks)
)
SELECT w, c, count(*) AS n_pairs
FROM pairs GROUP BY w, c
ORDER BY n_pairs DESC, w, c
LIMIT 100
"""


def n3_unigram_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence KL(P_source ‖ P_corpus) — the
    standard "how far does this source's language drift from the mix"
    score a pretraining-mixture designer reads before reweighting (the
    same quantity DSIR-style selection builds on, here as a per-source
    diagnostic).

    Exactness: every p and q is a ratio of integer window-sum counts;
    each word's term p·ln(p/q) is rounded to 9 dp and summed as exact
    fixed-point integers, so the cross-word sum is order-independent on
    both engines (a raw double Σ over a large vocabulary is not). Every
    source word appears in the corpus by construction, so q > 0 and the
    log is total.

    Scale shape: one explode → hash aggregate to (source, word) counts;
    the three totals (per word, per source, grand) are window sums over
    the COUNT table (vocabulary-sized, never fact rows); output is one
    row per source."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(T.tokens("text")).alias("word"))
    counts = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("n"))
    w_word = Window.partitionBy("word")
    w_src = Window.partitionBy("source")
    w_all = Window.partitionBy()
    p = F.col("n").cast("double") / F.sum("n").over(w_src).cast("double")
    q = (
        F.sum("n").over(w_word).cast("double")
        / F.sum("n").over(w_all).cast("double")
    )
    term_fp = F.round(p * F.log(p / q) * 1000000000, 0).cast("long")
    per_word = counts.select(
        "source",
        F.col("n").alias("n_tokens"),
        term_fp.alias("_t"),
    )
    return (
        per_word.groupBy("source")
        .agg(
            F.sum("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            F.round(F.sum("_t") / 1000000000.0, 6).alias("kl_vs_corpus"),
        )
        .orderBy("source")
    )


UNIGRAM_KL_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
  SELECT source, word, count(*) AS n FROM tok GROUP BY 1, 2
), terms AS (
  SELECT source, n,
         CAST(round(
           (CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE))
           * ln((CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE))
                / (CAST(sum(n) OVER (PARTITION BY word) AS DOUBLE)
                   / CAST(sum(n) OVER () AS DOUBLE)))
           * 1000000000, 0) AS BIGINT) AS t
  FROM counts
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
       count(*) AS vocab_size,
       round(sum(t) / 1000000000.0, 6) AS kl_vs_corpus
FROM terms GROUP BY source
ORDER BY source
"""


def n3_hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax legomena share (words seen exactly once, as a
    fraction of the source vocabulary) and type-token ratio — the two
    classic lexical-richness signals: boilerplate-heavy sources show LOW
    hapax share and TTR, scraped-garbage sources show suspiciously high
    ones.

    Exactness: pure integer counts; the two ratios are single divisions
    of exact integers, rounded to 6 dp. Scale shape: explode → one
    (source, word) hash aggregate → one vocabulary-sized re-aggregate;
    nothing touches fact rows twice."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(T.tokens("text")).alias("word"))
    counts = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax_count"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab_size",
            "hapax_count",
            F.round(
                F.col("hapax_count").cast("double") / F.col("vocab_size"), 6
            ).alias("hapax_share"),
            F.round(
                F.col("vocab_size").cast("double") / F.col("n_tokens"), 6
            ).alias("type_token_ratio"),
        )
        .orderBy("source")
    )


HAPAX_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
  SELECT source, word, count(*) AS n FROM tok GROUP BY 1, 2
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
       count(*) AS vocab_size,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
       round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_share,
       round(CAST(count(*) AS DOUBLE) / sum(n), 6) AS type_token_ratio
FROM counts GROUP BY source
ORDER BY source
"""


def n3_token_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution: mean length plus the short
    (≤2 chars) and long (≥10 chars) tails — the quick tokenizer-health
    readout (a source full of 1-char tokens is OCR noise or a bad
    splitter; one full of 10+-char tokens is concatenation damage or
    markup residue).

    Exactness: integer length sums and counts; ratios are single exact
    divisions rounded to 6 dp. Scale shape: explode feeding ONE
    map-side-combinable aggregate per source — lengths fold into the
    partial aggregate, so the shuffle carries five numbers per source."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(T.tokens("text")).alias("_w")).select(
        "source", F.length("_w").alias("len")
    )
    n = F.count(F.lit(1))
    return (
        tok.groupBy("source")
        .agg(
            n.alias("n_tokens"),
            F.round(F.sum("len").cast("double") / n, 4).alias("mean_len"),
            F.round(
                F.sum(F.when(F.col("len") <= 2, 1).otherwise(0)).cast("double") / n, 6
            ).alias("short_share"),
            F.round(
                F.sum(F.when(F.col("len") >= 10, 1).otherwise(0)).cast("double") / n, 6
            ).alias("long_share"),
            F.max("len").alias("max_len"),
        )
        .orderBy("source")
    )


TOKEN_LENGTH_SQL = """
WITH tok AS (
  SELECT source, length(unnest(string_split(text, ' '))) AS len FROM documents
)
SELECT source, count(*) AS n_tokens,
       round(CAST(sum(len) AS DOUBLE) / count(*), 4) AS mean_len,
       round(CAST(sum(CASE WHEN len <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS short_share,
       round(CAST(sum(CASE WHEN len >= 10 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS long_share,
       CAST(max(len) AS INTEGER) AS max_len
FROM tok GROUP BY source
ORDER BY source
"""


def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language classifier against
    the corpus's labeled ``lang`` column — the eval that turns
    ``language_id`` from a heuristic into a measured one (and shows
    exactly where it fails: labels outside its marker set, like zh,
    can only land in 'und' or a false positive).

    One row per observed (actual, predicted) cell with the count and
    the share of the actual language's documents (exact integer
    division, 6 dp — the per-class recall diagonal). Scale: one scan,
    marker scoring is pure Catalyst array intersection, one
    cells-sized aggregate + window."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    cells = (
        docs.select(F.col("lang").alias("actual_lang"), T.lang_id("text").alias("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w_actual = Window.partitionBy("actual_lang")
    return cells.select(
        "actual_lang",
        "pred_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w_actual), 6
        ).alias("actual_share"),
    ).orderBy("actual_lang", "pred_lang")


LANGID_CONFUSION_SQL = """
WITH t AS (
  SELECT doc_id, lang AS actual_lang,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
), s AS (
  SELECT doc_id, actual_lang,
    CAST(len(list_intersect(toks, ['der','die','und','von','ist'])) AS INTEGER) AS score_de,
    CAST(len(list_intersect(toks, ['the','a','of','and','is'])) AS INTEGER) AS score_en,
    CAST(len(list_intersect(toks, ['el','la','y','de','es'])) AS INTEGER) AS score_es,
    CAST(len(list_intersect(toks, ['le','la','et','de','est'])) AS INTEGER) AS score_fr
  FROM t
), ranked AS (
  SELECT doc_id, actual_lang, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM (
    SELECT doc_id, actual_lang, 'de' AS lang, score_de AS score FROM s
    UNION ALL SELECT doc_id, actual_lang, 'en', score_en FROM s
    UNION ALL SELECT doc_id, actual_lang, 'es', score_es FROM s
    UNION ALL SELECT doc_id, actual_lang, 'fr', score_fr FROM s
  )
), pred AS (
  SELECT actual_lang,
         CASE WHEN score <= 0 THEN 'und' ELSE lang END AS pred_lang
  FROM ranked WHERE rn = 1
), cells AS (
  SELECT actual_lang, pred_lang, count(*) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT actual_lang, pred_lang, n_docs,
       round(CAST(n_docs AS DOUBLE)
             / sum(n_docs) OVER (PARTITION BY actual_lang), 6) AS actual_share
FROM cells
ORDER BY actual_lang, pred_lang
"""


def dedup_vocab_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup does to the token stream, per source: token and
    vocabulary counts before vs after keeping one copy (min doc_id) per
    normalized fingerprint, plus the removed-token share — the
    measurement behind "dedup deleted X% of the tokens but only Y% of
    the vocabulary" (duplicates repeat tokens, they rarely carry unique
    ones).

    Exactness: pure integer counts; one share division, 6 dp. Scale:
    the dedup hash aggregate (fingerprint → keeper), one semi-join of
    docs to keepers, two explode → count passes — all map-side
    combinable."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    keep = (
        docs.select("doc_id", T.fingerprint_md5("text").alias("_fp"))
        .groupBy("_fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    tok_all = docs.select("source", F.explode(T.tokens("text")).alias("word"))
    kept = docs.join(keep, "doc_id", "left_semi")
    tok_kept = kept.select("source", F.explode(T.tokens("text")).alias("word"))
    before = tok_all.groupBy("source").agg(
        F.count(F.lit(1)).alias("tokens_before"),
        F.countDistinct("word").alias("vocab_before"),
    )
    after = tok_kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("tokens_after"),
        F.countDistinct("word").alias("vocab_after"),
    )
    return (
        before.join(after, "source")
        .select(
            "source",
            "tokens_before",
            "tokens_after",
            "vocab_before",
            "vocab_after",
            F.round(
                (F.col("tokens_before") - F.col("tokens_after")).cast("double")
                / F.col("tokens_before"),
                6,
            ).alias("token_removal_share"),
        )
        .orderBy("source")
    )


DEDUP_VOCAB_IMPACT_SQL = """
WITH keep AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents)
  GROUP BY fp
), tok_all AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
), tok_kept AS (
  SELECT d.source, unnest(string_split(d.text, ' ')) AS word
  FROM documents d SEMI JOIN keep k ON d.doc_id = k.doc_id
), before AS (
  SELECT source, count(*) AS tokens_before,
         count(DISTINCT word) AS vocab_before
  FROM tok_all GROUP BY 1
), after AS (
  SELECT source, count(*) AS tokens_after,
         count(DISTINCT word) AS vocab_after
  FROM tok_kept GROUP BY 1
)
SELECT source, tokens_before, tokens_after, vocab_before, vocab_after,
       round(CAST(tokens_before - tokens_after AS DOUBLE) / tokens_before, 6)
         AS token_removal_share
FROM before JOIN after USING (source)
ORDER BY source
"""


def n3_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source: shares of uppercase,
    digit, whitespace, and other-symbol characters — the cheap cleaning
    diagnostic (shouting/boilerplate skews uppercase, tables and IDs
    skew digits, markup residue skews symbols) computed without any
    tokenization at all.

    Exactness: each class count is an exact integer
    (length − length(class stripped)); shares are single integer
    divisions (6 dp). Empty-text sources are excluded from shares by
    the > 0 guard (ANSI rule). Scale: one scan, pure Catalyst
    regexp_replace lengths folded into one aggregate per source."""
    docs = spread(load_table(spark, sf_dir, "documents"))

    def n_of(pattern: str):
        return (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), pattern, ""))
        ).cast("long")

    per_doc = docs.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        n_of("[A-Z]").alias("n_upper"),
        n_of("[0-9]").alias("n_digit"),
        n_of("\\s").alias("n_space"),
        n_of("[^A-Za-z0-9\\s]").alias("n_symbol"),
    )
    agg = per_doc.groupBy("source").agg(
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_upper").alias("_u"),
        F.sum("n_digit").alias("_d"),
        F.sum("n_space").alias("_s"),
        F.sum("n_symbol").alias("_y"),
    )
    total = F.col("n_chars").cast("double")
    share = lambda c: F.when(  # noqa: E731
        F.col("n_chars") > 0, F.round(F.col(c).cast("double") / total, 6)
    )
    return agg.select(
        "source",
        "n_chars",
        share("_u").alias("upper_share"),
        share("_d").alias("digit_share"),
        share("_s").alias("space_share"),
        share("_y").alias("symbol_share"),
    ).orderBy("source")


CHARCLASS_SQL = """
WITH per_doc AS (
  SELECT source,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
           AS n_symbol
  FROM documents
), agg AS (
  SELECT source, sum(n_chars) AS n_chars, sum(n_upper) AS u,
         sum(n_digit) AS d, sum(n_space) AS s, sum(n_symbol) AS y
  FROM per_doc GROUP BY 1
)
SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
       CASE WHEN n_chars > 0 THEN round(CAST(u AS DOUBLE) / n_chars, 6) END
         AS upper_share,
       CASE WHEN n_chars > 0 THEN round(CAST(d AS DOUBLE) / n_chars, 6) END
         AS digit_share,
       CASE WHEN n_chars > 0 THEN round(CAST(s AS DOUBLE) / n_chars, 6) END
         AS space_share,
       CASE WHEN n_chars > 0 THEN round(CAST(y AS DOUBLE) / n_chars, 6) END
         AS symbol_share
FROM agg
ORDER BY source
"""


def source_js_divergence_matrix(
    spark: SparkSession, sf_dir: str, max_sources: int = 64
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between every two sources'
    unigram distributions — the symmetric, bounded (≤ ln 2) companion to
    :func:`n3_unigram_kl_by_source`: KL-vs-corpus says "how far from the
    mix", this matrix says which sources are NEAR-DUPLICATE distributions
    of each other (merge candidates) and which are the genuine diversity
    in a pretraining mixture.

    Exactness: p/q are ratios of integer counts; each word's JS term
    0.5·(p·ln(p/m) + q·ln(q/m)) with m=(p+q)/2 is rounded to 9 dp and
    fixed-point-summed (order-independent cross-engine, the KL
    convention). Zero-side words contribute only their present side
    (0·ln0 := 0 — JS is total, unlike raw KL).

    Scale shape: ONE pass builds (source, word) counts; per-word
    per-source probabilities collapse into a word → map(source→p) row
    (map width = |sources|, bounded), and the pair terms come from
    exploding a LITERAL pair array over that vocabulary-sized relation —
    no self-join of the counts, no cartesian operator, and the fact
    table is never touched again. The source list is control-plane-sized
    (collected once, loudly guarded at ``max_sources`` — 64 sources is
    already 2016 matrix rows; past that the report itself is unreadable
    and the vocab × pairs grid deserves a redesign)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(T.tokens("text")).alias("word"))
    counts = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("n"))
    # r13 REVERT of the r12 aggregate+broadcast totals experiment
    # (VERDICT r12 #6): interleaved sf0.5 AND sf1.0 noop probes (6
    # adjacent pairs, 10× bench vocab) split 3–3 — the shapes are
    # measurably EQUAL and produce identical rows, while the r12 static
    # plan carried two extra exchanges (the totals branch re-derives the
    # counts subtree and leans on AQE exchange reuse at runtime). With
    # no provable win the simpler certified shape stays. At-scale
    # reservation, recorded for a future round: partitionBy("source")
    # hash-partitions the whole vocab×sources relation into <=|sources|
    # partitions and sorts it — with a guarded source count that is a
    # bounded sort, but a |sources|-row aggregate broadcast back onto
    # counts avoids it entirely if a real cluster ever shows the skew.
    w = Window.partitionBy("source")
    probs = counts.select(
        "word",
        "source",
        (
            F.col("n").cast("double")
            / F.sum("n").over(w).cast("double")
        ).alias("p"),
    )
    # limit BEFORE collect: the guard must protect the driver too — a
    # pathological corpus with millions of sources must not ship them
    # all here just to be told no
    sources = sorted(
        r["source"]
        for r in docs.select("source").distinct().limit(max_sources + 1).collect()
    )
    if len(sources) > max_sources:
        raise ValueError(
            f"more than max_sources={max_sources} sources: the "
            "pairwise matrix has O(sources^2) rows — raise max_sources "
            "only if you mean it, or aggregate sources first"
        )
    pairs = [
        (a, b) for i, a in enumerate(sources) for b in sources[i + 1 :]
    ]
    wmap = probs.groupBy("word").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("source", "p")))
        ).alias("ps")
    )
    pair_lits = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in pairs
        ]
    )
    g = wmap.select("ps", F.explode(pair_lits).alias("pr"))
    pa = F.coalesce(F.element_at("ps", F.col("pr.a")), F.lit(0.0))
    pb = F.coalesce(F.element_at("ps", F.col("pr.b")), F.lit(0.0))
    m = (pa + pb) / 2
    term = F.lit(0.5) * (
        F.when(pa > 0, pa * F.log(pa / m)).otherwise(F.lit(0.0))
        + F.when(pb > 0, pb * F.log(pb / m)).otherwise(F.lit(0.0))
    )
    return (
        g.select(
            F.col("pr.a").alias("source_a"),
            F.col("pr.b").alias("source_b"),
            F.round(term * 1000000000, 0).cast("long").alias("_t"),
            F.when((pa > 0) | (pb > 0), 1).otherwise(0).alias("_w"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("_w").cast("long").alias("n_words_union"),
            F.round(F.sum("_t") / 1000000000.0, 6).alias("js_nats"),
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_JS_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
  SELECT source, word, count(*) AS n FROM tok GROUP BY 1, 2
), p AS (
  SELECT source, word,
         CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE)
           AS p
  FROM counts
), srcs AS (
  SELECT DISTINCT source FROM counts
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a JOIN srcs b ON a.source < b.source
), vocab AS (
  SELECT DISTINCT word FROM counts
), grid AS (
  SELECT source_a, source_b, word FROM pairs CROSS JOIN vocab
), terms AS (
  SELECT g.source_a, g.source_b,
         coalesce(pa.p, 0) AS pa, coalesce(pb.p, 0) AS pb
  FROM grid g
  LEFT JOIN p pa ON pa.source = g.source_a AND pa.word = g.word
  LEFT JOIN p pb ON pb.source = g.source_b AND pb.word = g.word
), fp AS (
  SELECT source_a, source_b,
         CAST(round(0.5 * (
             CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END
           + CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END
         ) * 1000000000, 0) AS BIGINT) AS t,
         CASE WHEN pa > 0 OR pb > 0 THEN 1 ELSE 0 END AS w
  FROM terms
)
SELECT source_a, source_b,
       CAST(sum(w) AS BIGINT) AS n_words_union,
       round(sum(t) / 1000000000.0, 6) AS js_nats
FROM fp GROUP BY 1, 2
ORDER BY 1, 2
"""
