"""Tail-f streaming source (SURVEY.md S6/ST1; reference TailF.java:21-184).

The reference hand-rolls file tailing: poll for existence, track a file
pointer, detect log rollover via creation-time changes, reopen, with all
state in instance fields. Structured Streaming's file source subsumes every
piece: a rolled-over log ≙ a new file in the directory, discovery is
native, and the "file pointer" is the checkpoint — restart-safe where the
reference's pointer died with the JVM.

Backpressure (ST4): the reference drops records after a 1 s send timeout
(TailF.java:132-134). Intake here is not bounded: each micro-batch takes
every file that arrived since the previous trigger, and the wiretap's
delivery drops a failing subscriber's records (streaming/wiretap.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tail_stream(spark: SparkSession, directory: str) -> DataFrame:
    """Unbounded stream of lines from files appearing in ``directory``.
    One row per line, plus the source file and arrival timestamp (the
    reference has arrival-order semantics only — no event time; we add the
    processing timestamp so watermarks are possible downstream)."""
    df = spark.readStream.format("text").load(directory)
    return df.select(
        F.col("value"),
        F.input_file_name().alias("source_file"),
        F.current_timestamp().alias("arrival_ts"),
    )
