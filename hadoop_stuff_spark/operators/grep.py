"""Distributed grep — the reference's flagship batch query (SURVEY.md T4/T5,
§3.1; DistributedGrep.java:51-60).

The reference runs a map-only MapReduce job (`mapred.reduce.tasks=0`,
NullOutputFormat) applying `Matcher.find` per record. Here the same shape is
one Catalyst `Filter` over a scan: a narrow transformation — no shuffle, one
WholeStageCodegen stage, regex compiled once by codegen (reference P1/P13
for free). `rlike` is Java-regex find() semantics, exactly the reference's
`Matcher.find` (DistributedGrep.java:55-59).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def grep(df: DataFrame, pattern: str, col: Column | str = "value") -> DataFrame:
    """Regex filter (T4): rows whose ``col`` contains a match of ``pattern``."""
    return df.filter(_c(col).rlike(pattern))


def grep_count(df: DataFrame, pattern: str, col: Column | str = "value") -> DataFrame:
    """Fused grep + count — the engine's flagship query (SURVEY.md §7 M0):
    DistributedGrep's filter feeding RecordCount's aggregate. Catalyst plans
    partial→final HashAggregate (the manual map-side combine of
    RecordCount.java:43,108, generated automatically)."""
    return grep(df, pattern, col).agg(F.count(F.lit(1)).alias("match_count"))


def multi_pattern_grep(
    df: DataFrame, patterns: dict[str, str], col: Column | str = "value"
) -> DataFrame:
    """Evaluate several named patterns in one scan (one pass over the data,
    N boolean columns) — the batch analog of the wiretap's per-subscriber
    selectors (RealTimeCdrWiretap.java:68) without N scans."""
    out = df
    for name, pat in patterns.items():
        out = out.withColumn(name, _c(col).rlike(pat))
    return out
