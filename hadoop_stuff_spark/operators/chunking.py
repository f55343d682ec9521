"""Document chunking — split long documents into overlapping token
windows (the retrieval/embedding prep step every RAG and long-context
training pipeline runs between cleaning and embedding).

Pure Catalyst 1→N: `sequence()` generates each document's window starts
from ITS OWN token count (a 50-token doc makes one chunk, a 10k-token
doc makes ~40 — no global explode factor), `slice()` takes the window,
`posexplode` emits (doc_id, chunk_idx, chunk_text, n_tokens). Map-only:
zero shuffle, no Python, fission happens inside the row like
`winnow_fingerprints` (functions/text.py).

Scale shape: output rows ≈ total_tokens / stride — the data grows by
the overlap factor only (window/(window-overlap)); nothing is buffered
per-doc beyond the row itself, and chunking composes with
`shards.write_training_shards` for the embedding fan-out downstream.

Reference provenance: nearest analog is the reference's record→chunk
packing (CompressedSequenceFile.java:122 — N records per storage chunk);
this is the inverse fission (one record → N semantic chunks), which the
reference had no notion of.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions import text as T


def chunk_documents(
    df: DataFrame,
    window: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, chunk_idx, chunk_text, n_tokens) — whitespace-token windows of
    ``window`` tokens starting every ``window - overlap`` tokens; the
    final window may be short but is never empty."""
    if not 0 <= overlap < window:
        raise ValueError(f"need 0 <= overlap < window, got {overlap}/{window}")
    stride = window - overlap
    toks = T.tokens(text_col)
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    chunk = F.slice(toks, F.col("start"), window)
    return (
        df.select(F.col(id_col), toks.alias("__toks"), starts.alias("__starts"))
        .select(id_col, "__toks", F.posexplode("__starts").alias("chunk_idx", "start"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.array_join(F.slice("__toks", F.col("start"), window), " ").alias("chunk_text"),
            F.size(F.slice("__toks", F.col("start"), window)).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )


def n3_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: chunk stats per document over the documents table
    (count, token totals, max index) — schema-stable for the oracle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    chunks = chunk_documents(docs, window=64, overlap=16)
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("total_chunk_tokens"),
            F.max("chunk_idx").alias("max_idx"),
        )
        .orderBy("doc_id")
    )


CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), w AS (
  SELECT doc_id,
         unnest(generate_series(1, greatest(len(toks), 1), 48)) AS start,
         toks
  FROM t
), c AS (
  SELECT doc_id, start,
         len(list_slice(toks, start, least(start + 63, len(toks)))) AS n_tokens
  FROM w
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS total_chunk_tokens,
       CAST(count(*) - 1 AS BIGINT) AS max_idx
FROM c
WHERE n_tokens > 0
GROUP BY doc_id
ORDER BY doc_id
"""
