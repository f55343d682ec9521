"""Text cleaning for training-data pipelines (N3 family): PII redaction,
markup stripping, whitespace normalization.

On-theme with the reference: its records ARE PII-bearing telco data —
CDR rows carry phone numbers (`17325551212`) and subscriber IPs
(HdfsReadWriteSample.java:112-113), flow logs carry src/dst/NAT IPs
(IngestTest.java:105). A modern pipeline over the same data must be able
to redact those before the text reaches a training corpus.

Everything here is pure Catalyst ``regexp_replace`` chains — map-only, one
scan, whole-stage codegen, zero Python. The patterns are deliberately
portable to DuckDB so every op is oracle-certified (EXTRA_QUERIES).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions import text as T

# portable regexes (identical semantics in Spark's Java regex and DuckDB's
# RE2): keep to character classes + bounded quantifiers, no lookaround
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
# NANP-ish phone: optional +1/1 prefix then 10 digits, allowing separators —
# also matches the reference's bare 11-digit form 17325551212
PHONE_RE = "\\b1?[0-9]{3}[-. ]?[0-9]{3}[-. ]?[0-9]{4}\\b"
SSN_RE = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
# must LOOK like a tag (optional /, then a letter) — a bare "a < b ... > c"
# comparison span is not markup
TAG_RE = "</?[A-Za-z][^<>]{0,255}>"


def redact_pii(col: Column | str) -> Column:
    """Replace emails, SSNs, IPv4 addresses, and phone numbers with typed
    placeholder tokens. Order matters: emails before phones (digits in a
    mail local part must not be phone-matched), SSNs before phones
    (an SSN's 3-2-4 digits would otherwise partially phone-match)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, SSN_RE, "<SSN>")
    c = F.regexp_replace(c, IPV4_RE, "<IP>")
    c = F.regexp_replace(c, PHONE_RE, "<PHONE>")
    return c


def strip_markup(col: Column | str) -> Column:
    """Drop HTML/XML tags (bounded non-nesting tags) and collapse the
    whitespace the removal leaves behind."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, TAG_RE, " ")
    return normalize_whitespace(c)


def normalize_whitespace(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, "\\s+", " "))


def clean_text(col: Column | str) -> Column:
    """The full cleaning chain: strip markup, redact PII, normalize."""
    return normalize_whitespace(redact_pii(strip_markup(col)))


# --------------------------------------------------------------------------
# certification queries (EXTRA_QUERIES — DuckDB-differential, local)


def n3_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact PII across a synthetic PII-bearing corpus derived
    deterministically from documents (emails/IPs/phones injected from
    doc_id so the oracle can rebuild the identical input), then count
    redactions per kind — certifies patterns AND replacement order."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 1732555"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    cleaned = dirty.select("doc_id", redact_pii("text").alias("text"))
    return cleaned.select(
        "doc_id",
        (F.size(F.split("text", "<EMAIL>", -1)) - F.lit(1)).alias("n_email"),
        (F.size(F.split("text", "<IP>", -1)) - F.lit(1)).alias("n_ip"),
        (F.size(F.split("text", "<PHONE>", -1)) - F.lit(1)).alias("n_phone"),
        F.md5("text").alias("fp"),
    )


PII_SQL = """
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 1732555'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
  FROM documents
), cleaned AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
      '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
      '\\b1?[0-9]{3}[-. ]?[0-9]{3}[-. ]?[0-9]{4}\\b', '<PHONE>', 'g') AS text
  FROM dirty
)
SELECT doc_id,
       CAST(len(string_split(text, '<EMAIL>')) - 1 AS INTEGER) AS n_email,
       CAST(len(string_split(text, '<IP>')) - 1 AS INTEGER) AS n_ip,
       CAST(len(string_split(text, '<PHONE>')) - 1 AS INTEGER) AS n_phone,
       md5(text) AS fp
FROM cleaned
"""


def n3_markup_stripping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip markup from a deterministic HTML-wrapped rendering of
    documents (tags injected from doc_id so the oracle rebuilds the same
    input); certify via the cleaned text's fingerprint + length."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.lit("<div id=\""),
            F.col("doc_id").cast("string"),
            F.lit("\"><p>"),
            F.col("text"),
            F.lit("</p> <br/> tail</div>"),
        ).alias("html"),
    )
    out = dirty.select("doc_id", strip_markup("html").alias("text"))
    return out.select(
        "doc_id", F.length("text").cast("long").alias("n_chars"), F.md5("text").alias("fp")
    )


MARKUP_SQL = """
WITH dirty AS (
  SELECT doc_id,
         '<div id="' || CAST(doc_id AS VARCHAR) || '"><p>' || text
             || '</p> <br/> tail</div>' AS html
  FROM documents
), stripped AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(html, '</?[A-Za-z][^<>]{0,255}>', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS text
  FROM dirty
)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, md5(text) AS fp
FROM stripped
"""


def boilerplate_ngrams(
    spark: SparkSession, sf_dir: str, n: int = 5, min_sources: int = 2, top: int = 20
) -> DataFrame:
    """Boilerplate candidates: the word n-grams with the highest document
    frequency that ALSO span multiple sources — cross-source repetition
    is the signature of template text (headers, licenses, nav chrome),
    exactly what a cleaning pass strips before near-dedup so boilerplate
    doesn't glue unrelated documents together.

    Deterministic: distinct n-grams per doc (an n-gram repeated inside
    one doc counts once toward df), ties broken by the n-gram string;
    top-k is a TakeOrderedAndProject, never a global sort. Scale shape:
    explode → ONE (ngram) hash aggregate carrying (df, n_sources)
    partials; candidate n-grams above a df floor are vocabulary-scale,
    not corpus-scale."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id", "source", F.explode(T.shingles("text", n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_sources") >= min_sources)
        .orderBy(F.desc("df"), "ngram")
        .limit(top)
    )


BOILERPLATE_SQL = """
WITH grams AS (
  SELECT doc_id, source, unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
           )
         )) AS ngram
  FROM documents
)
SELECT ngram, count(*) AS df,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM grams
GROUP BY ngram
HAVING count(DISTINCT source) >= 2
ORDER BY df DESC, ngram
LIMIT 20
"""


# defaults shared with CURATION_FUNNEL_SQL below (the decayed-topk
# convention: the Python defaults and the certified SQL cannot diverge)
_FUNNEL_MIN_CHARS = 100
_FUNNEL_ALPHA_MIN = 0.5


def n3_curation_funnel_by_source(
    spark: SparkSession,
    sf_dir: str,
    min_chars: int = _FUNNEL_MIN_CHARS,
    alpha_min: float = _FUNNEL_ALPHA_MIN,
) -> DataFrame:
    """Per-source curation SURVIVAL FUNNEL: how many documents (and final
    tokens) each source contributes after the three standard gates run in
    sequence — global exact dedup (canonical = min doc_id per normalized
    fingerprint, so a source whose content duplicates another source's
    earlier doc LOSES the row, exactly like the production dedup), a
    minimum-length gate, and an alphabetic-ratio quality gate. This is the
    attrition table a corpus report leads with: it localizes WHICH source
    the pipeline is silently discarding before anyone debugs the mix.

    Portable by construction: the fingerprint is the shared exact-dedup
    md5 (functions.text.fingerprint_md5 / dedup._doc_fingerprints), the
    alpha ratio is regexp_replace + length arithmetic (identical in
    DuckDB with the 'g' flag), and gate counts are exact integer sums.

    Scale shape: one documents scan → one window shuffle on the
    fingerprint (the same Exchange exact dedup pays; text never moves —
    only (doc_id, fp) feed the window) → hash aggregate to |sources|
    rows. Zero-division guard: empty docs fail the alpha gate by
    definition (length 0 ⇒ not alpha_ok), never divide."""
    from pyspark.sql import Window

    from hadoop_stuff_spark.functions.text import fingerprint_md5

    docs = spread(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("fp")
    staged = (
        docs.withColumn("fp", fingerprint_md5("text"))
        .withColumn("canon", F.col("doc_id") == F.min("doc_id").over(w))
        .withColumn("len_ok", F.col("n_chars") >= min_chars)
        .withColumn(
            "alpha_ok",
            (F.length("text") > 0)
            & (
                F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
                >= F.lit(float(alpha_min)) * F.length("text")
            ),
        )
        .withColumn("n_tok", T.token_count("text"))
    )
    final = F.col("canon") & F.col("len_ok") & F.col("alpha_ok")
    return (
        staged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("canon").cast("long")).alias("n_after_dedup"),
            F.sum((F.col("canon") & F.col("len_ok")).cast("long")).alias(
                "n_after_length"
            ),
            F.sum(final.cast("long")).alias("n_final"),
            F.coalesce(
                F.sum(F.when(final, F.col("n_tok"))), F.lit(0)
            ).cast("long").alias("tokens_final"),
        )
        .withColumn(
            "survival_pct",
            F.round(F.col("n_final").cast("double") / F.col("n_docs"), 6),
        )
        .orderBy("source")
    )


CURATION_FUNNEL_SQL = f"""
WITH staged AS (
  SELECT source, n_chars, text,
         doc_id = min(doc_id) OVER (
           PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
         ) AS canon,
         n_chars >= {_FUNNEL_MIN_CHARS} AS len_ok,
         length(text) > 0
           AND length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               >= {_FUNNEL_ALPHA_MIN} * length(text) AS alpha_ok,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN canon THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
       CAST(sum(CASE WHEN canon AND len_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_length,
       CAST(sum(CASE WHEN canon AND len_ok AND alpha_ok THEN 1 ELSE 0 END)
            AS BIGINT) AS n_final,
       CAST(COALESCE(sum(CASE WHEN canon AND len_ok AND alpha_ok
                              THEN n_tok END), 0) AS BIGINT) AS tokens_final,
       round(CAST(sum(CASE WHEN canon AND len_ok AND alpha_ok THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS survival_pct
FROM staged
GROUP BY source
ORDER BY source
"""
