"""Near-duplicate clustering: connected components over candidate pairs.

Pair generation (MinHash/SimHash/cosine LSH, operators/dedup.py) yields
EDGES; a dedup pipeline must then group edges into components and pick one
canonical document per component. This is iterative min-label propagation
expressed entirely in DataFrame joins:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until fixpoint. Components have small diameter in dedup graphs
(near-dup clusters are dense), so convergence is a handful of rounds;
the bound is O(log n) rounds for any graph with doubling (pointer-jumping
through the label graph — the standard large-star/small-star argument).

Scale design: the first round starts from identity labels, where the
pointer jump changes nothing, so a vertex's round-1 label is
``least(v, min over neighbors u of u)``: one groupBy over the edge list,
with no label relation, no join and no convergence count (round 1 changes
every vertex that has a smaller neighbor, so it is a fixpoint only on an
empty graph). Every later round is one self-join on the edge list + one
groupBy min — two shuffles over O(E) rows, no driver data movement — and
a pointer jump. Each round's labels are materialized by one eager
localCheckpoint, which truncates the lineage so plans stay O(1) deep.
The only driver-side value per later round is a single convergence
scalar, the count of changed labels: a ``DataFrame.observe`` metric on
that same checkpoint, filled when the checkpoint job finishes, so reading
it runs no job of its own. The edge list is not deduplicated: labels
depend only on the edge set, and a repeated edge only repeats a min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from hadoop_stuff_spark.operators.pairs import pair_counts


# the two vertex columns of a pair relation (every pair builder's output)
SRC, DST = "doc_a", "doc_b"


def connected_components(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Components of the undirected graph given by the ``SRC``–``DST``
    pairs → DataFrame[doc_id, cluster_id] for every vertex that appears in
    an edge (cluster_id = min vertex id of the component — the canonical
    doc).

    Deterministic; raises if ``max_iters`` rounds don't converge (dedup
    graphs converge in ~log(diameter); 25 covers any realistic corpus).
    """
    edges = pairs.select(F.col(SRC).alias("u"), F.col(DST).alias("v")).union(
        pairs.select(F.col(DST).alias("u"), F.col(SRC).alias("v"))
    )
    edges = edges.localCheckpoint(eager=True)  # pair-gen lineage ends here
    # round 1 — from identity labels the pointer jump is a no-op, so the
    # new label is the least of a vertex and its neighbors (every vertex
    # is some edge's u, because the edge list is symmetric)
    labels = (
        edges.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("cluster_id"))
        .select(F.col("u").alias("doc_id"), "cluster_id")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters - 1):
        # step 1 — neighbor propagation: candidate for v is the min label
        # among its neighbors. Sort-merge by hint: when every component
        # is one edge, edges and labels shuffle the same row count, and
        # AQE's broadcast build side then flipped between calls with a
        # few bytes of compression, so a warm session compiled the round
        # anew (and it saves the broadcast's job)
        neighbor_min = (
            edges.hint("merge").join(labels, edges.u == labels.doc_id)
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        cand = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.col("cluster_id").alias("old_label"),
            F.least(
                F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
            ).alias("cand"),
        )
        # step 2 — pointer jumping: follow the candidate label's own label
        # (cand is always a vertex id, so the join hits); this is what
        # collapses long chains in O(log diameter) rounds
        parents = labels.select(
            F.col("doc_id").alias("_pid"), F.col("cluster_id").alias("_plabel")
        )
        new_labels = cand.join(parents, cand.cand == parents._pid, "left").select(
            "doc_id",
            "old_label",
            F.least(F.col("cand"), F.coalesce("_plabel", F.col("cand"))).alias(
                "cluster_id"
            ),
        )
        # count_if reads 0, not null, over an empty round: no null is
        # ever taken for convergence
        round_obs = Observation()
        labels = (
            new_labels.observe(
                round_obs,
                F.count_if(F.col("cluster_id") < F.col("old_label")).alias("changed"),
            )
            .drop("old_label")
            .localCheckpoint(eager=True)
        )
        if round_obs.get["changed"] == 0:
            return labels
    # round 1 is a fixpoint only on an empty graph
    if max_iters == 1 and labels.isEmpty():
        return labels
    raise RuntimeError(f"connected_components did not converge in {max_iters} rounds")


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Cluster assignment + per-cluster size for near-dup pairs. The
    canonical document of each cluster is its min doc_id (== cluster_id)."""
    comp = connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select("doc_id", "cluster_id", "cluster_size")


# --------------------------------------------------------------------------
# certification query (EXTRA_QUERIES): cluster the EXACT n-gram Jaccard
# pairs (themselves oracle-certified) and let DuckDB recompute the
# transitive closure with a recursive CTE.


def n1_dedup_clusters(spark, sf_dir: str) -> DataFrame:
    from hadoop_stuff_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(spark, sf_dir)
    return dedup_clusters(pairs)


def _clusters_sql() -> str:
    from hadoop_stuff_spark.operators.dedup import NGRAM_JACCARD_SQL

    return f"""
WITH pairs AS ({NGRAM_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT u AS src, v AS dst FROM edges
  UNION SELECT u, u FROM edges
),
closure AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM reach
    UNION
    SELECT r.src, e.v FROM r JOIN edges e ON r.dst = e.u
  )
  SELECT src, dst FROM r
),
comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM closure GROUP BY src
)
SELECT c.doc_id, c.cluster_id, s.cluster_size
FROM comp c
JOIN (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1) s
  USING (cluster_id)
"""


CLUSTERS_SQL = _clusters_sql()


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph — fixed-iteration, fully declarative


def _copurchase_edges(spark, sf_dir: str, min_support: int) -> DataFrame:
    """(pa, pb), pa < pb: the part pairs co-ordered in at least
    ``min_support`` orders — the co-purchase graph's undirected edges."""
    from hadoop_stuff_spark.catalog import load_table, spread

    li = spread(load_table(spark, sf_dir, "lineitem"))
    op = li.select("l_orderkey", "l_partkey").distinct()
    return (
        pair_counts(op, "l_orderkey", "l_partkey", ("pa", "pb"), "n_orders")
        .filter(F.col("n_orders") >= min_support)
        .select("pa", "pb")
    )


def pagerank_copurchase_parts(
    spark, sf_dir: str, damping: float = 0.85, iters: int = 6, min_support: int = 2
) -> DataFrame:
    """PageRank centrality of parts in the co-purchase graph (edges =
    part pairs co-ordered in >= min_support orders, undirected). Unlike
    `connected_components`, the iteration count is FIXED, so the whole
    computation is one declarative plan — no driver loop, no convergence
    collect — and therefore SQL-expressible: the DuckDB oracle unrolls
    the same ``iters`` rounds and must match to 6 dp.

    Per iteration: contributions = one equi-join (edges x ranks on src)
    + one groupBy(dst) sum — two shuffles over O(E) rows, exactly the
    shape a 1000-executor run wants; ranks never leave the cluster. The
    node-count scalar rides a 1x1 crossJoin (the same allowlisted
    scalar shape as TF-IDF's corpus size).

    The edge list and degree relations are materialized ONCE
    (localCheckpoint) before the iteration loop: every unrolled round
    references edges/deg/n, and without the barrier Catalyst re-plans
    and re-executes the whole pair-building subtree (lineitem scan +
    distinct + self-join) inside EACH reference — the r12 plan audit
    measured 208 parquet scans / ~716 Exchange nodes in the single
    unrolled plan, vs 2 scans + O(iters) exchanges after. At cluster
    scale the same barrier is a persisted edge table; numeric results
    are unchanged (the checkpoint only cuts lineage, every downstream
    operator is identical).

    Restricted to nodes with at least one qualifying edge (isolated
    parts have no co-purchase signal); with symmetric edges every node
    has out-degree >= 1, so there is no dangling-mass term."""
    pairs = _copurchase_edges(spark, sf_dir, min_support)
    edges = pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    # one materialization each: edges carries its src degree pre-joined
    # (one join total instead of one per iteration), and the (node, d, n)
    # grid the rank rebuild needs is hoisted out of the loop the same way.
    # Neither is hash-partitioned on src first: with repartition("src")
    # before each checkpoint the final plan had one src exchange fewer
    # (19 vs 20 at sf0.1), but the two extra shuffles cost as much as it
    # saved (interleaved noop medians 2.98 s vs 2.97 s, 10 pairs, 4 cores),
    # and widening them to core width lost in 3 of 4 interleaved pairs
    # (the per-iteration relations are small here).
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ew = edges.join(deg, "src").localCheckpoint(eager=True)
    deg = ew.select("src", "d").distinct()
    n = deg.agg(F.count(F.lit(1)).alias("n"))  # node count, 1-row scalar
    grid = deg.crossJoin(n).select("src", "d", "n").localCheckpoint(eager=True)
    ranks = grid.select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(iters):
        # ADVICE r12 #4, examined and deliberately left as a double sum:
        # the contribution aggregate's accumulation order depends on
        # partitioning, unlike the house fixed-point convention — but
        # converting to round(rank/d·10⁶) long partials would QUANTIZE
        # each term (a real value change the certified oracle does not
        # mirror), not just reorder it, and the final 6 dp round has
        # absorbed the reordering ulps at every certified SF. The
        # results-frozen optimization rounds are the wrong place to
        # re-derive both engines' convention; revisit only if a driver
        # run ever shows a boundary digit flip.
        contrib = (
            ew.join(ranks, ew["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("d")).alias("c"))
        )
        ranks = grid.join(contrib, grid["src"] == contrib["dst"], "left").select(
            F.col("src").alias("node"),
            (
                F.lit(1.0 - damping) / F.col("n")
                + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select(
        F.col("node").alias("part"), F.round("rank", 6).alias("pagerank")
    )


def _pagerank_sql(damping: float = 0.85, iters: int = 6, min_support: int = 2) -> str:
    rounds = []
    prev = "r0"
    for k in range(1, iters + 1):
        rounds.append(
            f"""c{k} AS (
  SELECT e.dst AS node, sum({prev}.rank / deg.d) AS c
  FROM edges e JOIN deg ON deg.src = e.src JOIN {prev} ON {prev}.node = e.src
  GROUP BY e.dst
), r{k} AS (
  SELECT deg.src AS node,
         {1.0 - damping} / nn.n + {damping} * coalesce(c{k}.c, 0) AS rank
  FROM deg CROSS JOIN n nn LEFT JOIN c{k} ON c{k}.node = deg.src
)"""
        )
        prev = f"r{k}"
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {min_support}
),
edges AS (SELECT pa AS src, pb AS dst FROM pairs
          UNION ALL SELECT pb, pa FROM pairs),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
n AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT deg.src AS node, 1.0 / nn.n AS rank FROM deg CROSS JOIN n nn),
{",".join(rounds)}
SELECT node AS part, round(rank, 6) AS pagerank FROM {prev}
"""


PAGERANK_SQL = _pagerank_sql()


# ---------------------------------------------------------------------------
# Triangle counting over the co-purchase graph — degree-oriented enumeration


def triangle_copurchase_parts(
    spark, sf_dir: str, min_support: int = 2, top: int = 20
) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph (edges =
    part pairs co-ordered in >= min_support orders): the parts whose
    neighborhoods are most densely interlinked — the community-core
    signal clustering and recommendation pipelines start from.

    Scale design — DEGREE-ORIENTED enumeration, not the naive 3-way
    self-join: every undirected edge is oriented from its lower-(degree,
    id) endpoint to the higher, making the orientation a total order, so
    each triangle {a,b,c} materializes EXACTLY once as two out-edges
    (a→b, a→c) closed by (b→c). The join fan-out per node is then
    out-degree², and orienting by degree bounds out-degree by O(√E) on
    any graph (a node of degree d only keeps out-edges to nodes of
    degree >= d, and there can be at most 2√E of those) — the classic
    fix for the hub-explosion that kills naive triangle joins on skewed
    graphs: a hub of degree 10⁶ contributes 10¹² candidate wedges
    unoriented, but keeps almost no out-edges oriented. Three equi-join
    shuffles over O(E) rows total; no driver data movement."""
    pairs = _copurchase_edges(spark, sf_dir, min_support)
    deg = (
        pairs.select(F.col("pa").alias("v"))
        .unionByName(pairs.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    lower_first = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col("pa") < F.col("pb"))
    )
    oe = (
        pairs.join(da, F.col("pa") == F.col("da.v"))
        .join(db, F.col("pb") == F.col("db.v"))
        .select(
            F.when(lower_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(lower_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        )
        # one materialization of the oriented edges, which all three
        # wedge-closure references read: unmaterialized, each reference
        # re-planned the pair generation and both degree joins (AQE
        # initial plan at sf0.001: 274 Exchange + 45 BroadcastExchange
        # nodes, 13 + 0 with this). Interleaved noop at sf0.1, 5 pairs:
        # median 3.50 -> 2.78 s, every pair won; rows identical.
        .localCheckpoint(eager=True)
    )
    o1, o2, o3 = oe.alias("o1"), oe.alias("o2"), oe.alias("o3")
    tri = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src")) & (F.col("o1.dst") != F.col("o2.dst")),
    ).join(
        o3,
        (F.col("o3.src") == F.col("o1.dst")) & (F.col("o3.dst") == F.col("o2.dst")),
    )
    corners = (
        tri.select(F.col("o1.src").alias("part"))
        .unionByName(tri.select(F.col("o1.dst").alias("part")))
        .unionByName(tri.select(F.col("o2.dst").alias("part")))
    )
    return (
        corners.groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "part")
        .limit(top)
    )


TRIANGLE_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT pa AS v FROM pairs UNION ALL SELECT pb FROM pairs
  ) GROUP BY v
),
oe AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND pa < pb) THEN pa ELSE pb END AS src,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND pa < pb) THEN pb ELSE pa END AS dst
  FROM pairs JOIN deg da ON pa = da.v JOIN deg db ON pb = db.v
),
tri AS (
  SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
  FROM oe o1
  JOIN oe o2 ON o1.src = o2.src AND o1.dst <> o2.dst
  JOIN oe o3 ON o3.src = o1.dst AND o3.dst = o2.dst
),
corners AS (
  SELECT x AS part FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
)
SELECT part, count(*) AS n_triangles
FROM corners GROUP BY part
ORDER BY n_triangles DESC, part
LIMIT 20
"""


# ---------------------------------------------------------------------------
# canonical-document selection: quality-argmax per near-dup cluster


def canonicalize_clusters(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "model_score",
) -> DataFrame:
    """Pick the best-scoring member of each near-dup cluster — the
    "which copy do we keep" decision a dedup pipeline makes after
    clustering. `dedup_clusters`' min-id canonical is an arbitrary
    tiebreak; a real pipeline keeps the HIGHEST-QUALITY copy (the others
    are dropped), so the canonical must be score-argmax, deterministic
    under ties (id ascending).

    ``members`` is `dedup_clusters` output (id, cluster_id, cluster_size);
    ``scores`` carries (id, score). Returns one row per cluster:
    (cluster_id, canonical doc, its score, cluster_size, n_dropped).

    Members missing from ``scores`` are NOT silently dropped (an inner
    join would delete whole clusters when scoring ran on a filtered
    subset — and a downstream "drop non-canonical copies" step would
    then delete every copy): the join is LEFT, unscored members order
    after all scored ones (NULLS LAST), and a cluster whose members are
    all unscored still emits its lowest-id member with a NULL score.

    Scale shape: clusters are vanishingly small next to the corpus, so
    the score join is keyed on the member ids only (never a corpus-wide
    shuffle of text), and the argmax window partitions by cluster_id —
    per-partition state is one row, sort length is the cluster size.
    """
    from pyspark.sql import Window

    joined = members.join(scores.select(id_col, score_col), id_col, "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc_nulls_last(), F.asc(id_col)
    )
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("canonical_doc"),
            F.col(score_col).alias("canonical_score"),
            "cluster_size",
            (F.col("cluster_size") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def n1_cluster_canonicalize(spark, sf_dir: str) -> DataFrame:
    """Certification: cluster the exact n-gram Jaccard pairs, score every
    document with the oracle-certified quality model, and keep the
    score-argmax copy per cluster."""
    from hadoop_stuff_spark.catalog import load_table, spread
    from hadoop_stuff_spark.operators.dedup import ngram_jaccard_pairs
    from hadoop_stuff_spark.operators.scoring import score_quality

    docs = spread(load_table(spark, sf_dir, "documents"))
    members = dedup_clusters(ngram_jaccard_pairs(spark, sf_dir))
    scores = score_quality(docs).select("doc_id", "model_score")
    return canonicalize_clusters(members, scores)


def _canonicalize_sql() -> str:
    from hadoop_stuff_spark.operators.scoring import MODEL_SCORES_SQL

    return f"""
WITH clus AS ({CLUSTERS_SQL}),
scores AS ({MODEL_SCORES_SQL}),
m AS (
  SELECT c.cluster_id, c.doc_id, c.cluster_size, s.model_score,
         row_number() OVER (
           PARTITION BY c.cluster_id
           ORDER BY s.model_score DESC NULLS LAST, c.doc_id
         ) AS rk
  FROM clus c LEFT JOIN scores s USING (doc_id)
)
SELECT cluster_id, doc_id AS canonical_doc, model_score AS canonical_score,
       cluster_size, cluster_size - 1 AS n_dropped
FROM m WHERE rk = 1
ORDER BY cluster_id
"""


CANONICALIZE_SQL = _canonicalize_sql()


def n1_near_dup_clusters(
    spark, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """The production near-dup clustering path end to end: MinHash-LSH
    candidate pairs (est Jaccard ≥ threshold) → connected components →
    score-argmax canonicalization — what a 100 TB corpus actually runs
    (the certified :func:`n1_dedup_clusters` twin clusters EXACT Jaccard
    pairs, which is the oracle baseline, not the scale path).

    Rows-only (the pairs ride murmur3 signatures — no SQL oracle);
    certified by the wave-8 tests: the clusters must be a coarsening
    consistent with the exact-pair clusters (every exact pair above the
    threshold lands in ONE minhash cluster unless LSH missed it — recall
    is pinned by the existing minhash recall tests), and canonical picks
    are deterministic score-argmax.

    Scale shape: composition of three certified stages — banded LSH
    (ids-only explode, no text in the shuffle), pointer-jumping
    components (O(log diameter) rounds, driver sees one convergence
    scalar per round), and a cluster-members-only score join."""
    from hadoop_stuff_spark.catalog import load_table, spread
    from hadoop_stuff_spark.operators.dedup import minhash_near_dups
    from hadoop_stuff_spark.operators.scoring import score_quality

    pairs = minhash_near_dups(spark, sf_dir, threshold=threshold)
    members = dedup_clusters(pairs)
    docs = spread(load_table(spark, sf_dir, "documents"))
    scores = score_quality(docs).select("doc_id", "model_score")
    return canonicalize_clusters(members, scores)
