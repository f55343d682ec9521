"""Record counting — the reference's second batch job (SURVEY.md A1-A5;
RecordCount.java:29-123).

The reference hand-builds partial aggregation: the mapper pre-counts each
gzip chunk (A1), a combiner sums map-side (A2), one reducer finalizes (A3).
Spark's physical plan for ``count()`` is literally that topology —
HashAggregate(partial) → Exchange → HashAggregate(final) — generated by
Catalyst with no user code (SURVEY.md P2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def record_count(df: DataFrame) -> DataFrame:
    """Global record count with the reference's constant-key output shape
    (RecordCount.java:34: key "Record Count")."""
    return df.agg(
        F.lit("Record Count").alias("key"), F.count(F.lit(1)).alias("record_count")
    )


def chunked_record_count(chunks: DataFrame) -> DataFrame:
    """Count records stored as gzip chunks WITHOUT exploding rows through a
    shuffle of raw text: decode each chunk, count its newline-separated
    records map-side (the reference's per-chunk pre-count, A1 —
    RecordCount.java:41-43), then sum the per-chunk partials (A2/A3).

    At 100 TB this moves only one partial sum per task through the shuffle,
    never record text — no explode, no per-record rows at all.
    """
    from hadoop_stuff_spark.functions.codecs import gzip_decompress_str

    per_chunk = chunks.select(
        F.size(F.split(gzip_decompress_str("value"), "\n")).alias("n")
    )
    return per_chunk.agg(
        F.lit("Record Count").alias("key"), F.sum("n").alias("record_count")
    )


def observed_count(df: DataFrame, name: str = "ingest_metrics") -> DataFrame:
    """Running throughput counter (A5) — the reference prints rates every N
    chunks (IngestTest.java:90-94); Spark's `observe` attaches the metric to
    the job without a second pass."""
    return df.observe(name, F.count(F.lit(1)).alias("records"))
