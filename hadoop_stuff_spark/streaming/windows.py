"""Event-time windowed aggregation with watermarks (SURVEY.md §2.4 "absent"
row — the reference is arrival-order only, TailF.java:132; no event-time
semantics exist anywhere in it). This module supplies the standard
Structured Streaming window surface the reference lacked:

- tumbling / sliding windows over an event-time column,
- watermarks for bounded state + deterministic late-data drop,
- session windows (gap-based) via ``F.session_window``.

Scale notes: windowed aggregation shuffles on (window, key) — partial
aggregation is map-side as always; the watermark bounds the state store
size (without it, state grows with the number of open windows forever).
At 100 TB/day stream rates the watermark delay IS the memory knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_stuff_spark.functions import text as T
from hadoop_stuff_spark.functions.money import sum_2dp_exact


def windowed_event_counts(
    events: DataFrame,
    window: str = "6 hours",
    slide: str | None = None,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) window counts + value sums
    per key. Works identically on a streaming or a batch DataFrame — the
    batch form is the oracle (see WINDOWED_COUNTS_SQL); the streaming form
    adds the watermark so append-mode emission and late-drop are defined."""
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    win = (
        F.window(ts_col, window, slide)
        if slide
        else F.window(ts_col, window)
    )
    return (
        events.groupBy(win.alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            sum_2dp_exact("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            "n",
            "total_value",
        )
    )


def sessionized_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows: events for a key closer than ``gap`` apart merge
    into one session. State is per (key, open session) and bounded by the
    watermark."""
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("s"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            F.col(key_col),
            "n_events",
        )
    )


def trending_terms(
    docs: DataFrame,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Per-window term frequencies over a document stream — the streaming
    form of the corpus vocabulary (operators/textstats.vocabulary):
    tokenize → explode → windowed count. Batch and stream share the exact
    expression; ranking to "top-k trending" happens on the (tiny) output,
    not in the stateful plan, so append-mode emission stays valid.

    State per window is vocabulary-sized (word-keyed counts), bounded by
    the watermark — the same state knob as every windowed aggregate."""
    if docs.isStreaming:
        docs = docs.withWatermark(ts_col, watermark)
    return (
        docs.select(F.col(ts_col), F.explode(T.tokens(text_col)).alias("word"))
        .groupBy(F.window(ts_col, window).alias("w"), F.col("word"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "word",
            "n",
        )
    )
