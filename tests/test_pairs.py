"""The shared-key pair builder (operators/pairs.py) against a pure-Python
reference, and the plan shape its partitioned callers rely on."""

from collections import Counter
from itertools import combinations

import pytest

from hadoop_stuff_spark.operators.pairs import drop_hot_keys, pair_counts, with_set_sizes

PAIR = ("item_a", "item_b")

# (key, item) set: key "k3" is hot at a cap of 3; "solo" holds one item; ""
# is an ordinary key; item 9 reaches the index only through the hot key
INDEX = [
    ("k1", 1), ("k1", 2), ("k1", 3),
    ("k2", 2), ("k2", 3),
    ("k3", 1), ("k3", 2), ("k3", 4), ("k3", 9),
    ("solo", 5),
    ("", 4), ("", 5),
]


def ref_pairs(index, max_items=None):
    """(a, b) -> shared-key count, and item -> key count, after the cut."""
    by_key = {}
    for k, item in index:
        by_key.setdefault(k, set()).add(item)
    if max_items is not None:
        by_key = {k: v for k, v in by_key.items() if len(v) <= max_items}
    counts = Counter()
    sizes = Counter()
    for items in by_key.values():
        sizes.update(items)
        counts.update(combinations(sorted(items), 2))
    return dict(counts), dict(sizes)


def _collect(spark, index, max_items):
    df = spark.createDataFrame(index, "key string, item long")
    if max_items is not None:
        df = drop_hot_keys(df, "key", max_items)
    out = with_set_sizes(pair_counts(df, "key", "item", PAIR), df, "item", PAIR)
    return {
        (r.item_a, r.item_b): (r.n_common, r.size_a, r.size_b) for r in out.collect()
    }


@pytest.mark.parametrize("max_items", [None, 3, 1])
def test_builder_matches_python_reference(spark, max_items):
    counts, sizes = ref_pairs(INDEX, max_items)
    expect = {p: (n, sizes[p[0]], sizes[p[1]]) for p, n in counts.items()}
    assert _collect(spark, INDEX, max_items) == expect
    if max_items == 3:
        # the cut reaches counts AND sizes: item 9 sat only under k3
        assert all(9 not in p for p in expect) and 9 not in sizes
        assert sizes[1] == 1 and expect[(1, 2)] == (1, 1, 2)


def test_builder_edge_indexes(spark):
    assert _collect(spark, [], None) == {}
    # one-item keys never pair, however many there are
    assert _collect(spark, [("a", 1), ("b", 2), ("c", 3)], None) == {}


def test_builder_multi_column_key_and_id_only_select(spark):
    rows = [(0, 7, 1), (0, 7, 2), (1, 7, 1), (1, 7, 2), (1, 8, 3), (0, 8, 3)]
    df = spark.createDataFrame(rows, "band int, bucket long, id long")
    got = pair_counts(df, ["band", "bucket"], "id", ("a", "b"))
    assert sorted(map(tuple, got.collect())) == [(1, 2, 2)]
    # the id-only candidate set plans as a plain two-column aggregate
    ids = got.select("a", "b")
    assert sorted(map(tuple, ids.collect())) == [(1, 2)]
    plan = ids._jdf.queryExecution().optimizedPlan().toString()
    assert "count(" not in plan


@pytest.mark.parametrize(
    "name, key", [("copurchase_pairs", "l_orderkey"), ("part_neighbor_jaccard", "cust")]
)
def test_pair_chain_rides_one_key_exchange(spark, sf_dir, name, key):
    """The explicit key-hash repartition is the only exchange on the key:
    the distinct, the hot-key/frequency cut and both sides of the pair
    self-join reuse its partitioning, so no exchange on the key is added
    to meet a join's or aggregate's requirement (each plan branch shows
    its own copy of the repartition until AQE reuses it)."""
    from hadoop_stuff_spark.plans.registry import _CATALOG

    df = _CATALOG[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    on_key = [ln for ln in plan.splitlines() if f"Exchange hashpartitioning({key}#" in ln]
    assert on_key and all("REPARTITION_BY_NUM" in ln for ln in on_key), plan
