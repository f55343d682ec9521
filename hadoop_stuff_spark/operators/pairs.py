"""Shared-key pairs: the one builder that turns a (key → item) index into
the item pairs sharing a key — shingle Jaccard/containment, the LSH band
joins, the co-purchase and customer-neighbor part pairs. Callers keep
their own input shaping (partitioning, checkpoints) and their scores.
The key columns keep their names through the join, so an index already
hash-partitioned on its key pairs with no further exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_counts(
    index: DataFrame,
    key: str | list[str],
    item: str,
    pair: tuple[str, str],
    n: str = "n_common",
) -> DataFrame:
    """(pair[0], pair[1], n): every item pair (pair[0] < pair[1]) sharing
    at least one key, with the number of keys it shares, counted with a
    map-side partial aggregate. ``key`` may be several columns (an LSH
    band and its bucket). A caller that needs only the candidate set
    selects the two ids: Catalyst prunes the count and plans the same
    Aggregate as ``distinct``."""
    keys = [key] if isinstance(key, str) else key
    a_col, b_col = pair
    a = index.select(*keys, F.col(item).alias(a_col))
    b = index.select(*keys, F.col(item).alias(b_col))
    return (
        a.join(b, keys)
        .filter(F.col(a_col) < F.col(b_col))
        .groupBy(a_col, b_col)
        .agg(F.count(F.lit(1)).alias(n))
    )


def drop_hot_keys(index: DataFrame, key: str, max_items: int) -> DataFrame:
    """The index without the keys holding more than ``max_items`` rows —
    the cut that bounds each key's quadratic pair fan-out. The hot set is
    tiny, so this is a broadcast anti-join with no shuffle of the index.
    Cut before both :func:`pair_counts` and :func:`with_set_sizes`, pair
    scores are exact over the filtered sets."""
    hot = (
        index.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items") > max_items)
        .select(key)
    )
    return index.join(F.broadcast(hot), key, "left_anti")


def with_set_sizes(
    pairs: DataFrame,
    index: DataFrame,
    item: str,
    pair: tuple[str, str],
    sizes: tuple[str, str] = ("size_a", "size_b"),
) -> DataFrame:
    """``pairs`` with each side's key count in ``index`` (its set size)."""
    per_item = index.groupBy(item).agg(F.count(F.lit(1)).alias("n_keys"))
    for side, size in zip(pair, sizes):
        pairs = pairs.join(
            per_item.select(F.col(item).alias(side), F.col("n_keys").alias(size)), side
        )
    return pairs
