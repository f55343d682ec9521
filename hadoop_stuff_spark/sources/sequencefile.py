"""Legacy Hadoop SequenceFile bridge (SURVEY.md S3/S4).

The reference's store is SequenceFile[LongWritable/IntWritable,
BytesWritable] holding gzip chunks (IngestTest.java:74,
CompressedSequenceFile.java:122). This module reads/writes that exact
layout through the RDD API (the one sanctioned RDD use in this engine —
SURVEY.md §7 design stance) and bridges to the DataFrame chunk schema, so
a user can point the engine at 2012-era data and run every query.

At scale: `sc.sequenceFile` splits by SequenceFile sync markers — standard
input splits, same parallelism story as any file source. After the bridge,
the data is ordinary DataFrame rows (chunk id + binary), and
`explode_chunks` + AQE handle decode skew (SURVEY.md §7 hard-point #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_stuff_spark.sources.chunks import CHUNK_SCHEMA


def read_sequencefile_chunks(spark: SparkSession, path: str) -> DataFrame:
    """SequenceFile[{Long,Int}Writable, BytesWritable] → DataFrame[key:
    long, value: binary]."""
    rdd = spark.sparkContext.sequenceFile(path)
    bridged = rdd.map(lambda kv: (int(kv[0]), bytearray(kv[1])))
    return spark.createDataFrame(bridged, CHUNK_SCHEMA)


def write_sequencefile_chunks(chunks: DataFrame, path: str) -> None:
    """DataFrame[key: long, value: binary] → SequenceFile with the
    reference's writable classes."""
    # NOTE: pyspark's Java converter picks IntWritable vs LongWritable per
    # key by magnitude, so keys must be uniform-magnitude across the whole
    # DataFrame (chunk_lines_partitionwise guarantees keys >= 2^32 →
    # LongWritable throughout).
    chunks.rdd.map(lambda row: (row["key"], bytes(row["value"]))).saveAsSequenceFile(path)
