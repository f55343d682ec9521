"""Legacy gzip-chunk storage format — parity with the reference's ingest
pipeline (SURVEY.md S3/S4/S8, T1/T3, P5).

The reference's unit of storage *and* of map-task work is an N-line gzip
chunk appended to a SequenceFile under a constant key
(IngestTest.java:74-76,130-148; chunk sizes 200/1,000/10,000 —
TailFTest.java:179-183). Parquet row-groups + codec supersede this layout
(SURVEY.md P5/P10), so the chunked format here exists to *read and write
legacy-shaped data*, stored as parquet[key: long, value: binary] — the
DataFrame image of SequenceFile[LongWritable, BytesWritable].

The chunker, :func:`chunk_lines_partitionwise`, is the 100 TB path:
chunks are formed within each input partition (mapInPandas, zero
shuffle), chunk ids are (partition, local) pairs. Exactly the reference's
"virtual writer" model (CompressedSequenceFile.java:64-81): one writer per
partition, no cross-partition coordination.

Skew note (SURVEY.md §7 "legacy chunk granularity"): one chunk is
indivisible until decoded, so after :func:`explode_chunks` callers should
let AQE rebalance or `repartition` before heavy downstream work.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from hadoop_stuff_spark.functions.codecs import gzip_bytes, gzip_decompress_str

CHUNK_SCHEMA = StructType(
    [StructField("key", LongType()), StructField("value", BinaryType())]
)


def chunk_lines_partitionwise(
    df: DataFrame,
    line_col: str,
    chunk_size: int,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Scale-path chunker: gzip chunks formed inside each partition, no
    shuffle. key = (partition_id + 1) * 2^32 + local_chunk_index (unique,
    stable for a fixed partitioning; uniformly >= 2^32 so every key
    converts to the same Writable class when exported to SequenceFile —
    pyspark's converter picks Int vs LongWritable by magnitude).

    With ``partition_cols`` the output carries those columns too (one
    buffer per distinct value combination inside each task), so a
    downstream ``writer.partitionBy(*partition_cols)`` works — the
    reference's date/host layout, IngestTest.java:58,68. Chunks never mix
    rows from different partition values."""
    col = line_col
    pcols = list(partition_cols or [])

    def pack(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        # one line-buffer per partition-col value tuple (() when no pcols)
        bufs: dict[tuple, list[str]] = {}
        chunk_idx = 0

        def flush(pkey: tuple):
            nonlocal chunk_idx
            buf = bufs[pkey]
            data = gzip_bytes("\n".join(buf).encode("utf-8"))
            row = {"key": [((pid + 1) << 32) | chunk_idx], "value": [data]}
            for name, val in zip(pcols, pkey):
                row[name] = [val]
            chunk_idx += 1
            buf.clear()
            return pd.DataFrame(row)

        for pdf in iterator:
            if pcols:
                groups = pdf.groupby(pcols, sort=False, dropna=False)
            else:
                groups = [((), pdf)]
            for gkey, sub in groups:
                if pcols and not isinstance(gkey, tuple):
                    gkey = (gkey,)
                buf = bufs.setdefault(gkey, [])
                for line in sub[col]:
                    buf.append("" if line is None else str(line))
                    if len(buf) >= chunk_size:
                        yield flush(gkey)
        for gkey, buf in bufs.items():
            if buf:
                yield flush(gkey)

    out_schema = StructType(
        list(CHUNK_SCHEMA.fields)
        + [df.schema[name] for name in pcols]
    )
    return df.select(col, *pcols).mapInPandas(pack, out_schema)


def explode_chunks(
    chunks: DataFrame,
    line_name: str = "line",
    permissive: bool = False,
    rebalance: bool = False,
) -> DataFrame:
    """chunk[key, value, ...] -> one row per record line (reference T1+T3:
    gunzip then tokenize on \\n — RecordCount.java:41-42). Non-value
    columns (the key, any partition columns) are preserved per line.

    ``permissive=True``: corrupt/truncated chunks are silently skipped
    (decode-to-NULL then filtered) instead of failing the job — the
    posture for large backfills where a torn chunk must not kill the run;
    count them separately via ``gzip_decompress_permissive(...).isNull()``
    if a quarantine tally is needed.

    ``rebalance=True``: round-robin repartition AFTER the explode. A
    chunk's lines are born in the partition that decoded it, so one
    pathological chunk (a 100 MB chunk among 1 KB chunks — SURVEY §7's
    skew case) turns into one straggler task for everything downstream;
    the explicit shuffle spreads the exploded lines evenly, and with AQE
    (`optimizeSkewsInRebalancePartitions`) the runtime further splits any
    oversized shuffle partition. Costs one shuffle of the line data —
    pay it when chunk sizes are adversarial and the downstream work is
    CPU-heavy per line; skip it when chunks are uniform (the normal
    ingest layout) and the explode stays map-only."""
    other = [c for c in chunks.columns if c != "value"]
    if permissive:
        from hadoop_stuff_spark.functions.codecs import gzip_decompress_permissive

        text = gzip_decompress_permissive("value").cast("string")
        out = (
            chunks.select(*other, text.alias("_text"))
            .filter(F.col("_text").isNotNull())
            .select(*other, F.explode(F.split("_text", "\n")).alias(line_name))
        )
    else:
        out = chunks.select(
            *other,
            F.explode(F.split(gzip_decompress_str("value"), "\n")).alias(line_name),
        )
    if rebalance:
        return out.repartition(chunks.sparkSession.sparkContext.defaultParallelism)
    return out


def write_chunked(
    df: DataFrame,
    line_col: str,
    path: str,
    chunk_size: int = 1000,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Chunked-ingest sink: partitionwise gzip chunks persisted as parquet.

    ``partition_cols`` mirrors the reference's date/host directory layout
    (IngestTest.java:58,68) → Catalyst partition pruning on read. Rows are
    hash-co-located by the partition cols first so each output directory
    receives whole chunks from few tasks (not one sliver per task); a
    single hot value then maps to one task — acceptable for date/host
    layouts, use more distinct cols if a value dominates."""
    if partition_cols:
        df = df.repartition(*[F.col(c) for c in partition_cols])
    chunks = chunk_lines_partitionwise(df, line_col, chunk_size, partition_cols)
    writer = chunks.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def read_chunked(spark: SparkSession, path: str, line_name: str = "line") -> DataFrame:
    """Read a chunked store back to one-row-per-record."""
    return explode_chunks(spark.read.parquet(path), line_name)
