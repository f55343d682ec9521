"""Embedding similarity search (SURVEY.md §2.7 N2) over the ``embeddings``
table (64-dim array<float>).

Two paths:
- :func:`topk_cosine_bruteforce` — the exact baseline: broadcast the (small)
  query set against a single scan of the corpus; per-query top-k via window
  row_number. Work is O(|corpus| × |queries|) but embarrassingly parallel
  and shuffle-light (only (query_id, k) rows move). This is also the recall
  oracle for the approximate path.
- :func:`topk_cosine_lsh` — the 100 TB path: deterministic random-hyperplane
  LSH (sign sketches). Hyperplane matrix is derived from a seeded NumPy
  generator and embedded as literals (no state, reproducible); candidates =
  bucket join on any matching band, then exact cosine re-rank. Corpus side
  is hashed in the same scan that computes norms; shuffle carries
  (bucket, id, vec) only for bucketed candidates.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions.text import let
from hadoop_stuff_spark.functions.vectors import as_double, cosine, dot, l2_norm
from hadoop_stuff_spark.operators.textstats import _bm25_sql_score, bm25_rank_topk

DIM = 64


def topk_cosine_bruteforce(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors
    (vec_id < n_queries), self-matches excluded. Deterministic: similarity
    rounded to 6 dp before ranking, ties broken by vec_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = broadcast(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            l2_norm("embedding").alias("qnrm"),
        )
    )
    # repartition: the corpus parquet may be a single file; HOF evaluation
    # is per-row interpreted work, so spread it across all cores. Norms are
    # computed ONCE per vector here, not once per (query, vector) pair —
    # that alone is a (1 + |Q|)/(2|Q|) cut in flops (23s → <1s at sf0.1).
    corpus = spread(emb).select(
        "vec_id", "embedding", l2_norm("embedding").alias("nrm")
    )
    scored = (
        corpus.crossJoin(queries)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot("qvec", "embedding") / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "sim", F.col("rk").cast("int").alias("rk"))
    )


TOPK_COSINE_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]), 6) AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, sim, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
  FROM scored
)
WHERE rk <= 10
"""


def sign_bands(vec_col, bands: int, bits_per_band: int, seed: int) -> "F.Column":
    """The ``bands`` (band, bucket) structs of one vector, to explode into
    a band-bucket index. A band's bucket packs the signs of <vec, plane>
    over its ``bits_per_band`` seeded gaussian hyperplanes (bit i set iff
    the dot with plane i is positive): a pure expression over literal
    plane coefficients."""
    planes = np.random.default_rng(seed).standard_normal((bands * bits_per_band, DIM))

    def bit(i: int, plane: np.ndarray) -> "F.Column":
        d = F.aggregate(
            F.zip_with(
                as_double(vec_col),
                F.array(*[F.lit(float(c)) for c in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))

    def bucket(b: int) -> "F.Column":
        band_planes = planes[b * bits_per_band : (b + 1) * bits_per_band]
        return reduce(lambda x, y: x + y, [bit(i, pl) for i, pl in enumerate(band_planes)])

    return F.array(
        *[F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket")) for b in range(bands)]
    )


def topk_cosine_lsh(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    bands: int = 16,
    bits_per_band: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates must share >=1 of ``bands`` sign-sketch
    buckets with the query, then exact cosine re-rank. Recall vs the
    brute-force oracle is asserted in tests/test_similarity.py.

    Band geometry is data-dependent: the driver's embeddings are
    unclustered gaussian noise (nearest-neighbor cosine ≈ 0.3), where
    sign-LSH cannot be simultaneously selective and high-recall; 16 bands ×
    4 bits gives ~0.9 expected recall per true neighbor at modest pruning.
    On real clustered embeddings (neighbor cosine ≥ 0.7), fewer/wider bands
    (e.g. 8 × 8) prune far harder at the same recall — expose both knobs."""
    emb = load_table(spark, sf_dir, "embeddings")

    def with_buckets(df: DataFrame, vec: str, id_alias: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.col(vec).alias(f"{id_alias}_vec"),
            F.explode(sign_bands(vec, bands, bits_per_band, seed)).alias("bb"),
        ).select(id_alias, f"{id_alias}_vec", "bb.band", "bb.bucket")

    queries = broadcast(
        with_buckets(emb.filter(F.col("vec_id") < n_queries), "embedding", "query_id")
    )
    corpus = with_buckets(spread(emb), "embedding", "vec_id")
    cands = (
        corpus.join(queries, ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "query_id_vec", "vec_id", "vec_id_vec")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(cosine("query_id_vec", "vec_id_vec"), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "sim", F.col("rk").cast("int").alias("rk"))
    )


def _centroids(emb: DataFrame, n_cells: int) -> np.ndarray:
    """Deterministic coarse quantizer: the n_cells corpus vectors with the
    smallest xxhash64(vec_id) (a seeded uniform sample that needs no RNG
    state), L2-normalized. At any scale this is a TakeOrdered of n_cells
    rows — a tiny driver-side artifact, same footprint class as a
    broadcast-join build side."""
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"))
        .limit(n_cells)
        .collect()
    )
    c = np.array([r.embedding for r in rows], dtype=np.float64)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _cell_assign_udf(cents: np.ndarray):
    """THE coarse-quantizer assignment UDF every IVF path shares
    (batch index, persisted index, recall curve): nearest centroid by
    cosine via one Arrow-batched numpy matmul. One definition so the
    norm floor / dtype / tie behavior can never diverge between the
    index build and the diagnostics that measure it. Marked
    nondeterministic so Catalyst's inferred isnotnull constraint cannot
    clone the UDF below a repartition (the python-chain-dup rule;
    deterministic in fact)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def cell_of(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cents.T, axis=1))

    return cell_of.asNondeterministic()


def _ranked_cells_udf(cents: np.ndarray, n_probe: int | None = None):
    """Per-query centroid ranking UDF (same normalize-and-matmul as
    :func:`_cell_assign_udf`): full descending-cosine cell order, or the
    first ``n_probe`` entries when given. Shared by the probe path and
    the recall curve so the ranking the curve measures is the ranking
    queries actually probe."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def ranked(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(m @ cents.T), axis=1)
        if n_probe is not None:
            order = order[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    return ranked


def topk_cosine_ivf(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 8,
) -> DataFrame:
    """IVF (inverted-file) ANN: corpus is partitioned into ``n_cells`` cells
    by nearest centroid; each query probes its ``n_probe`` nearest cells and
    exact-cosine re-ranks only those candidates. Work scanned per query is
    ~n_probe/n_cells of the corpus — the knob that holds at 100 TB, where
    the cell assignment is computed once at ingest and stored as a
    partition column (partition pruning then skips whole files per query).

    Cell assignment is one Arrow-batched numpy matmul per batch (pandas
    UDF) — vectorized, never per-row Python.

    Like the sign-LSH path, probe width is data-dependent: the driver's
    embeddings are unclustered gaussian noise, where cell membership
    correlates only weakly with nearest-neighborhood — n_probe=8/16
    (~half the corpus scanned) measures recall@10 ≈ 0.6-0.7 here. On real
    clustered embeddings (the actual 100 TB workload) n_probe=1-2 of
    sqrt(N) cells is the standard operating point.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb, n_cells)
    cell_of = _cell_assign_udf(cents)
    probe_cells = _ranked_cells_udf(cents, n_probe)

    corpus = spread(emb).select(
        "vec_id",
        "embedding",
        cell_of("embedding").alias("cell"),
        l2_norm("embedding").alias("nrm"),
    )
    queries = broadcast(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            l2_norm("embedding").alias("qnrm"),
            F.explode(probe_cells("embedding")).alias("cell"),
        )
    )
    scored = (
        corpus.join(queries, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot("qvec", "embedding") / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "sim", F.col("rk").cast("int").alias("rk"))
    )


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector stats — exercises array aggregation lanes
    (F.aggregate fold) with a SQL-expressible oracle."""
    from hadoop_stuff_spark.functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", l2_norm("embedding").alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
    )


NORM_STATS_SQL = """
WITH t AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS norm
  FROM embeddings
)
SELECT label, count(*) AS n,
       round(avg(norm), 4) AS avg_norm,
       round(min(norm), 4) AS min_norm,
       round(max(norm), 4) AS max_norm
FROM t GROUP BY label
"""


# ---------------------------------------------------------------------------
# Persisted IVF index: the 100 TB layout (cell = partition column)


def build_ivf_index(
    spark: SparkSession, sf_dir: str, index_path: str, n_cells: int = 16
) -> None:
    """Materialize the IVF layout SCALE.md describes: corpus written
    ``partitionBy("cell")`` (one directory per inverted list) plus the
    centroid table alongside. A query then probes n_probe cells as a
    partition-pruned scan — untouched cells are never opened. Build cost:
    one pass to assign cells + one partitioned write; rebuild only when the
    quantizer drifts."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb, n_cells)
    cell_of = _cell_assign_udf(cents)

    (
        spread(emb)
        .select("vec_id", "embedding", cell_of("embedding").alias("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_path}/corpus")
    )
    cent_rows = [(i, [float(x) for x in cents[i]]) for i in range(len(cents))]
    spark.createDataFrame(cent_rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{index_path}/centroids")


def topk_cosine_ivf_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 8,
) -> DataFrame:
    """Query the persisted IVF index. The union of all probed cells becomes
    ONE literal `cell IN (...)` predicate — Catalyst partition-prunes the
    scan to those directories (verified in tests via PartitionFilters +
    file counts); the per-query probe sets then restrict candidates inside
    the pruned scan via the bucket join."""
    import numpy as np

    cent_rows = spark.read.parquet(f"{index_path}/centroids").collect()
    cents = np.zeros((len(cent_rows), len(cent_rows[0].centroid)))
    for r in cent_rows:
        cents[r.cell] = r.centroid

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        l2_norm("embedding").alias("qnrm"),
    ).collect()
    qm = np.stack([np.array(r.qvec, dtype=np.float64) for r in q])
    qm_n = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    order = np.argsort(-(qm_n @ cents.T), axis=1)[:, :n_probe]
    probes = [
        (int(r.query_id), list(r.qvec), float(r.qnrm), [int(c) for c in order[i]])
        for i, r in enumerate(q)
    ]
    all_cells = sorted({c for p in probes for c in p[3]})

    probe_df = broadcast(
        spark.createDataFrame(
            [(p[0], p[1], p[2], c) for p in probes for c in p[3]],
            "query_id bigint, qvec array<float>, qnrm double, cell int",
        )
    )
    corpus = (
        spark.read.parquet(f"{index_path}/corpus")
        .filter(F.col("cell").isin(all_cells))  # partition pruning happens HERE
        .select("vec_id", "embedding", "cell", l2_norm("embedding").alias("nrm"))
    )
    scored = (
        corpus.join(probe_df, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot("qvec", "embedding") / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "sim", "rk")
    )


# --------------------------------------------------------------------------
# int8 embedding quantization (the storage-side scale lever: 4x smaller
# vectors -> 4x less scan/shuffle for every ANN pass; re-rank in float on
# the candidate set only)


def quantize_embeddings_int8(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization as pure Catalyst HOFs:
    scale = max(|x_i|) / 127, code_i = round(x_i / scale) in [-127, 127]
    (scale 0 for the zero vector). Adds ``codes array<int>`` and
    ``scale double``; dequantization is codes[i] * scale with relative
    error <= scale/2 per component. Map-only, no Python."""

    def max_abs(v):
        return F.aggregate(
            v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
        )

    def quantize(v, m):
        return F.when(m == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
            F.transform(v, lambda x: F.round(x.cast("double") * 127.0 / m, 0).cast("int"))
        )

    v = F.col(vec_col)
    # max_abs bound once per vector, not re-aggregated per component
    codes = let(v, lambda a: let(max_abs(a), lambda m: quantize(a, m)))
    scale = (max_abs(v) / F.lit(127.0)).alias("scale")
    return emb.select("*", codes.alias("codes"), scale)


def n2_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: per-vector quantization scale + exact code checksum +
    max dequantization error, all recomputable by the oracle from the raw
    floats."""
    from hadoop_stuff_spark.catalog import load_table, spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = quantize_embeddings_int8(emb)
    dequant_err = F.aggregate(
        F.zip_with(
            "embedding",
            "codes",
            lambda x, c: F.abs(x.cast("double") - c * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )
    # compute the error against the RAW scale in its own select — aliasing
    # round(scale) AS scale in the same projection would make the lambda's
    # F.col("scale") resolve to the rounded value (lateral column aliasing)
    q = q.select("vec_id", "scale", "codes", dequant_err.alias("_max_err"))
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, c: a + c).alias(
            "code_sum"
        ),
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, c: a + F.abs(c)
        ).alias("code_l1"),
        F.round("_max_err", 9).alias("max_err"),
    )


QUANTIZE_SQL = """
WITH q AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS max_abs
  FROM embeddings
), c AS (
  SELECT vec_id, v, max_abs / 127.0 AS scale,
         CASE WHEN max_abs = 0
              THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(round(x * 127.0 / max_abs, 0) AS INTEGER))
         END AS codes
  FROM q
)
SELECT vec_id,
       round(scale, 9) AS scale,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS code_l1,
       round(list_max([abs(v[i] - codes[i] * scale) FOR i IN range(1, len(v) + 1)]), 9) AS max_err
FROM c
"""


def saved_centroid_encoder(spark: SparkSession, index_path: str):
    """Pandas-UDF cell encoder bound to the index's SAVED centroids (the
    quantizer must stay fixed across appends or every existing cell
    assignment is invalidated). Shared by :func:`append_to_ivf_index` and
    the streaming maintenance sink (streaming/vectors.py)."""
    cent_rows = spark.read.parquet(f"{index_path}/centroids").collect()
    cents = np.zeros((len(cent_rows), len(cent_rows[0].centroid)))
    for r in cent_rows:
        cents[r.cell] = r.centroid
    return _cell_assign_udf(cents)


def append_to_ivf_index(
    spark: SparkSession, index_path: str, new_vectors: DataFrame
) -> None:
    """Day-2 index maintenance: add a batch of vectors to the persisted
    IVF index WITHOUT rebuilding it — encode the batch against the SAVED
    centroids (the quantizer must stay fixed or every existing cell
    assignment is invalidated) and append into the cell partitions.

    Cost is O(|batch|): one scan of the new vectors, a partitioned
    append touching only the cells the batch lands in. Rebuild (and only
    rebuild) when the quantizer drifts from the data distribution —
    recall tests are the drift detector. Mirrors
    `incremental.update_signature_store` for the dedup stores: history
    immutable, appends only."""
    cell_of = saved_centroid_encoder(spark, index_path)
    (
        new_vectors.select("vec_id", "embedding", cell_of("embedding").alias("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{index_path}/corpus")
    )


def n2_hybrid_rrf_fusion(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 20,
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the sparse BM25
    keyword ranking over ``documents`` and the dense cosine ranking over
    ``embeddings`` (query = vec 0, ids align with doc_ids) are fused as
    ``Σ 1/(c + rank)`` — the standard score-free combiner for hybrid RAG
    retrievers (c=60 per Cormack et al.'s original RRF setting). The
    query document (id 0) is excluded from BOTH arms — its BM25 stats
    frame too — so the arms stay symmetric and the query can never be
    returned as its own result.

    Plan shape: both arms end in ``orderBy().limit(depth)`` —
    TakeOrderedAndProject, never a global window over all scored rows —
    so only 2×depth rows reach the full-outer fuse join. The keyword arm
    IS :func:`textstats.bm25_rank_topk` (one site owns the BM25 ranking
    contract). RRF terms are fixed-arity expressions over exact integer
    ranks, deterministic across engines; ties broken by doc_id."""
    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") != 0
    )
    kw_rank = bm25_rank_topk(docs, depth).select(
        "doc_id", F.col("rk").alias("rk_kw")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qvec"), l2_norm("embedding").alias("qnrm")
        )
    )
    corpus = spread(emb).filter(F.col("vec_id") != 0).select(
        "vec_id", "embedding", l2_norm("embedding").alias("nrm")
    )
    scored = corpus.crossJoin(q).select(
        "vec_id",
        F.round(dot("qvec", "embedding") / (F.col("qnrm") * F.col("nrm")), 6).alias(
            "sim"
        ),
    )
    vec_top = scored.orderBy(F.desc("sim"), F.asc("vec_id")).limit(depth)
    wv = Window.partitionBy().orderBy(F.desc("sim"), F.asc("vec_id"))
    vec_rank = vec_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).cast("int").alias("rk_vec"),
    )

    fused = kw_rank.join(vec_rank, "doc_id", "full_outer")
    rrf = F.when(F.col("rk_kw").isNotNull(), 1.0 / (c + F.col("rk_kw"))).otherwise(
        0.0
    ) + F.when(F.col("rk_vec").isNotNull(), 1.0 / (c + F.col("rk_vec"))).otherwise(0.0)
    return (
        fused.select("doc_id", "rk_kw", "rk_vec", F.round(rrf, 6).alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(k)
    )


HYBRID_RRF_SQL = """
WITH kw_scored AS (""" + _bm25_sql_score(where=" WHERE doc_id <> 0") + """
), kw_rank AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rk_kw
  FROM kw_scored QUALIFY rk_kw <= 20
), q AS (
  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0
), vec_scored AS (
  SELECT e.vec_id,
         round(list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]), 6) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
), vec_rank AS (
  SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rk_vec
  FROM vec_scored QUALIFY rk_vec <= 20
), fused AS (
  SELECT coalesce(k.doc_id, v.doc_id) AS doc_id, rk_kw, rk_vec
  FROM kw_rank k FULL OUTER JOIN vec_rank v ON k.doc_id = v.doc_id
)
SELECT doc_id, rk_kw, rk_vec,
       round(CASE WHEN rk_kw IS NOT NULL THEN 1.0 / (60 + rk_kw) ELSE 0.0 END
             + CASE WHEN rk_vec IS NOT NULL THEN 1.0 / (60 + rk_vec) ELSE 0.0 END,
             6) AS rrf
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


def retrieval_mrr(
    emb: DataFrame, n_queries: int = 20, k: int = 10
) -> DataFrame:
    """Retrieval-quality evaluation over the embedding corpus: each of the
    first ``n_queries`` vectors queries the rest by exact cosine, with
    same-``label`` vectors as the relevance judgments. Reports, per query,
    the rank of the first relevant hit, its reciprocal rank (the MRR
    numerator), and recall hits in the top ``k`` — the eval loop an
    embedding/retrieval pipeline runs after every index or model change.

    Determinism: similarity is rounded to 6 dp BEFORE ranking and ties
    break on vec_id, so both engines rank identically (the same contract
    as topk_cosine_bruteforce). Queries with no other same-label vector
    surface with NULL rank rather than silently dropping.

    Scale shape: the query set is a broadcast (n_queries rows); the
    corpus is scanned once, norms computed once per vector; only
    (query_id, rank stats) rows leave the per-query aggregation.
    """
    queries = broadcast(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            F.col("embedding").alias("qvec"),
            l2_norm("embedding").alias("qnrm"),
        )
    )
    corpus = spread(emb).select(
        "vec_id", "label", "embedding", l2_norm("embedding").alias("nrm")
    )
    scored = (
        corpus.crossJoin(queries)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            "vec_id",
            "label",
            F.round(
                dot("qvec", "embedding") / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    ranked = scored.withColumn("rk", F.row_number().over(w))
    rel = F.col("label") == F.col("qlabel")
    return (
        ranked.groupBy("query_id", "qlabel")
        .agg(
            F.min(F.when(rel, F.col("rk"))).alias("first_rel_rank"),
            F.sum(F.when(rel & (F.col("rk") <= k), 1).otherwise(0)).alias(
                f"rel_in_top{k}"
            ),
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "first_rel_rank",
            F.round(F.lit(1.0) / F.col("first_rel_rank"), 6).alias(
                "reciprocal_rank"
            ),
            f"rel_in_top{k}",
        )
        .orderBy("query_id")
    )


def n2_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification query: label-relevance MRR eval for the first 20
    query vectors."""
    return retrieval_mrr(load_table(spark, sf_dir, "embeddings"))


RETRIEVAL_MRR_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < 20
), ranked AS (
  SELECT q.query_id, q.qlabel, e.vec_id, e.label,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY round(list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]), 6) DESC,
                    e.vec_id
         ) AS rk
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, qlabel AS label,
       min(CASE WHEN label = qlabel THEN rk END) AS first_rel_rank,
       round(1.0e0 / min(CASE WHEN label = qlabel THEN rk END), 6) AS reciprocal_rank,
       CAST(sum(CASE WHEN label = qlabel AND rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS rel_in_top10
FROM ranked
GROUP BY query_id, qlabel
ORDER BY query_id
"""


def embedding_dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension distribution profile of the embedding corpus — mean,
    sample variance, min, max per coordinate. The diagnostic an embedding
    pipeline runs after every model/index change: dead dimensions
    (variance ~0), mean-offset anisotropy (|mean| >> 0 — the "common
    direction" that inflates all cosines), and range blow-ups all show up
    here before they poison retrieval.

    Scale shape: posexplode fans each vector into dim rows, but partial
    (map-side) aggregation folds them to one row PER DIMENSION PER
    PARTITION before the exchange — the shuffle carries O(dims x
    partitions) rows no matter how many vectors are scanned. Variance is
    explicit sum/sumsq algebra (not stddev builtins, whose internal
    update order is not contractual across engines), rounded to 6 dp.
    """
    e = emb.select(F.posexplode("embedding").alias("pos", "x"))
    v = F.col("x").cast("double")
    agg = (
        e.groupBy((F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("_s"),
            F.sum(v * v).alias("_ss"),
            F.min(v).alias("min_x"),
            F.max(v).alias("max_x"),
        )
    )
    n = F.col("n")
    return agg.select(
        "dim",
        "n",
        F.round(F.col("_s") / n, 6).alias("mean_x"),
        F.round(
            (F.col("_ss") - F.col("_s") * F.col("_s") / n) / (n - 1), 6
        ).alias("var_x"),
        F.round("min_x", 6).alias("min_x"),
        F.round("max_x", 6).alias("max_x"),
    ).orderBy("dim")


def n2_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification query: per-dimension profile of the embeddings table."""
    return embedding_dim_stats(load_table(spark, sf_dir, "embeddings"))


EMBEDDING_DIM_STATS_SQL = """
WITH e AS (
  SELECT unnest(generate_series(1, len(embedding))) AS dim, embedding
  FROM embeddings
), x AS (
  SELECT dim, CAST(embedding[dim] AS DOUBLE) AS v FROM e
)
SELECT dim, count(*) AS n,
       round(sum(v) / count(*), 6) AS mean_x,
       round((sum(v * v) - sum(v) * sum(v) / count(*)) / (count(*) - 1), 6)
         AS var_x,
       round(min(v), 6) AS min_x,
       round(max(v), 6) AS max_x
FROM x GROUP BY dim ORDER BY dim
"""


def cosine_pair_histogram(
    emb: DataFrame, fraction: float = 0.2, salt: str = "cospairs"
) -> DataFrame:
    """Distribution of pairwise cosine similarities over a DETERMINISTIC
    sample of the embedding corpus, bucketed into 20 fixed bins of width
    0.1 over [-1, 1] — the embedding-space health check: a healthy space
    piles mass near 0, representation collapse shows as mass near 1,
    mean-offset anisotropy as a shifted mode (complement to
    `embedding_dim_stats`, which sees per-dimension symptoms of the same
    diseases).

    The sample is the md5-keep predicate every sampler here uses (pure
    function of vec_id: reruns and both engines pick the same vectors);
    the all-pairs join runs over the SAMPLE only — the O(n²) is on
    (fraction·n)², the documented exact-diagnostic shape, and fraction
    is chosen so the sampled pair count stays control-plane-sized. Sims
    are rounded to 6 dp BEFORE binning (same contract as every cosine
    op); bin = floor((sim+1)/0.1) clamped to 19 so sim = 1.0 lands in
    the top bin.
    """
    from hadoop_stuff_spark.operators.sampling import deterministic_keep

    s = (
        emb.filter(deterministic_keep("vec_id", fraction, salt))
        .select("vec_id", "embedding", l2_norm("embedding").alias("nrm"))
        # zero vectors have no direction: an unguarded division is an
        # ANSI crash on Spark while DuckDB's list_cosine_similarity
        # silently returns -1.0 — exclude them on BOTH engines
        .filter(F.col("nrm") > 0)
    )
    a, b = s.alias("a"), s.alias("b")
    sims = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.round(
            dot(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.nrm") * F.col("b.nrm")),
            6,
        ).alias("sim")
    )
    binned = sims.select(
        F.least(
            F.floor((F.col("sim") + 1.0) / 0.1).cast("long"), F.lit(19).cast("long")
        ).alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin",
            F.round(F.lit(-1.0) + F.col("bin") * 0.1, 1).alias("bin_lo"),
            "n_pairs",
        )
        .orderBy("bin")
    )


def n2_cosine_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: 20-bin cosine-pair histogram over a deterministic
    20% sample of the embeddings."""
    return cosine_pair_histogram(load_table(spark, sf_dir, "embeddings"))


COSINE_PAIR_HISTOGRAM_SQL = """
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings
  WHERE substring(md5('cospairs' || CAST(vec_id AS VARCHAR)), 1, 6) < '333333'
    AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
), sims AS (
  SELECT round(list_cosine_similarity(a.v, b.v), 6) AS sim
  FROM s a JOIN s b ON a.vec_id < b.vec_id
), binned AS (
  SELECT least(CAST(floor((sim + 1.0) / 0.1) AS BIGINT), 19) AS bin FROM sims
)
SELECT bin, CAST(round(-1.0 + bin * 0.1, 1) AS DOUBLE) AS bin_lo,
       count(*) AS n_pairs
FROM binned GROUP BY bin ORDER BY bin
"""


def n2_knn_label_agreement(
    spark: SparkSession, sf_dir: str, k: int = 5, sample_mod: int = 40
) -> DataFrame:
    """Embedding-quality eval: k-NN label agreement — for a deterministic
    sample of labeled vectors (vec_id % sample_mod == 0), does the
    majority label of the k nearest cosine neighbors match the vector's
    own label? The standard no-training probe of whether an embedding
    space separates the classes it claims to.

    Deterministic end to end: the sample is modular (no RNG), similarity
    is rounded to 6 dp before ranking with vec_id tie-break (the
    topk_cosine_bruteforce convention), and the majority vote breaks
    count ties toward the SMALLEST label. Exact brute-force scoring —
    the allowlisted broadcast-query-set baseline shape; at corpus scale
    route the same eval through the IVF index instead.

    Output: one row per true label with its query count and k-NN
    accuracy (exact integer division, 6 dp). Zero-norm vectors (failed
    encodes — what n2_norm_outliers hunts) have no direction: excluded
    from BOTH sides on BOTH engines, because the unguarded division is
    an ANSI crash on Spark while DuckDB's list_cosine_similarity
    silently returns -1.0 (the n2_cosine_pair_histogram rule)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = broadcast(
        emb.filter(F.col("vec_id") % sample_mod == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            l2_norm("embedding").alias("qnrm"),
            F.col("label").alias("query_label"),
        )
        .filter(F.col("qnrm") > 0)
    )
    corpus = spread(emb).select(
        "vec_id", "embedding", "label", l2_norm("embedding").alias("nrm")
    ).filter(F.col("nrm") > 0)
    scored = (
        corpus.crossJoin(queries)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            "label",
            "vec_id",
            F.round(
                dot("qvec", "embedding") / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    topk = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    votes = topk.groupBy("query_id", "query_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    majority = (
        votes.withColumn("vrk", F.row_number().over(w_vote))
        .filter(F.col("vrk") == 1)
        .select("query_id", "query_label", F.col("label").alias("knn_label"))
    )
    return (
        majority.groupBy(F.col("query_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                F.when(F.col("knn_label") == F.col("query_label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_queries"), 6
            ).alias("knn_accuracy"),
        )
        .orderBy("label")
    )


KNN_LABEL_SQL = """
WITH nz AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec, label
  FROM embeddings
  WHERE sqrt(list_aggregate(
          list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) > 0
), q AS (
  SELECT vec_id AS query_id, vec AS qvec, label AS query_label
  FROM nz WHERE vec_id % 40 = 0
), scored AS (
  SELECT q.query_id, q.query_label, e.label, e.vec_id,
         round(list_cosine_similarity(q.qvec, e.vec), 6) AS sim
  FROM nz e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
    FROM scored
  ) WHERE rk <= 5
), votes AS (
  SELECT query_id, query_label, label, count(*) AS n_votes
  FROM topk GROUP BY 1, 2, 3
), majority AS (
  SELECT query_id, query_label, label AS knn_label FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY n_votes DESC, label) AS vrk
    FROM votes
  ) WHERE vrk = 1
)
SELECT query_label AS label, count(*) AS n_queries,
       CAST(sum(CASE WHEN knn_label = query_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(sum(CASE WHEN knn_label = query_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS knn_accuracy
FROM majority
GROUP BY 1
ORDER BY 1
"""


def n2_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm outlier report per label: MAD-based robust z over
    vector L2 norms — the broken-embedding detector (a failed encode
    batch lands as near-zero or exploded norms, and the label dimension
    localizes WHICH class's encoder run went bad).

    Norms are rounded to 6 dp at birth so both engines rank identical
    values; medians ride the portable exact-percentile pair; robust z is
    rounded to 6 dp before the 3.5 cut; zero-MAD labels (all-identical
    norms) yield NULL / 0 outliers. Scale: norms fold map-side; the MAD
    machinery is the shared :func:`profile.mad_report` (same three
    label-broadcast passes, constants, and NULL policy as
    mad_outlier_orders)."""
    from hadoop_stuff_spark.operators.profile import mad_report

    emb = load_table(spark, sf_dir, "embeddings")
    norms = spread(emb).select(
        "label", F.round(l2_norm("embedding"), 6).alias("nrm")
    )
    return mad_report(
        norms, "label", "nrm", median_name="median_norm", n_name="n_vectors"
    )


NORM_OUTLIERS_SQL = """
WITH norms AS (
  SELECT label,
         round(sqrt(list_aggregate(
           list_transform(embedding::DOUBLE[], x -> x * x), 'sum')), 6) AS nrm
  FROM embeddings
), med AS (
  SELECT label, round(quantile_cont(nrm, 0.5), 6) AS med,
         count(*) AS n_vectors
  FROM norms GROUP BY 1
), mad AS (
  SELECT n.label, min(m.med) AS med, min(m.n_vectors) AS n_vectors,
         round(quantile_cont(abs(n.nrm - m.med), 0.5), 6) AS mad
  FROM norms n JOIN med m USING (label)
  GROUP BY 1
), rz AS (
  SELECT n.label, m.med, m.mad, m.n_vectors,
         CASE WHEN m.mad > 0 THEN
           round(0.6745 * abs(n.nrm - m.med) / m.mad, 6)
         END AS rz
  FROM norms n JOIN mad m USING (label)
)
SELECT label,
       CAST(min(n_vectors) AS BIGINT) AS n_vectors,
       min(med) AS median_norm,
       min(mad) AS mad,
       CAST(sum(CASE WHEN rz > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(max(rz), 3) AS max_robust_z
FROM rz
GROUP BY label
ORDER BY label
"""


def n2_ivf_recall_curve(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    n_cells: int = 16,
    probe_widths: tuple[int, ...] = (1, 2, 4, 8, 16),
) -> DataFrame:
    """Recall@k vs probe width — the IVF capacity-planning companion to
    `kmeans.n2_ivf_cell_balance`: cell balance says how evenly the index
    SHARDS; this curve says how much of the true neighborhood each probe
    width BUYS, which is the number an operator actually tunes
    (recall target → n_probe → fraction of corpus scanned per query).

    ONE corpus pass scores every (query, candidate) pair — the same
    `_cell_assign_udf`/`_ranked_cells_udf` quantizer the real index
    uses — with the candidate cell's probe RANK attached; each probe
    width is then a filter (cell_rank <= width) + per-query top-k. The
    TRUTH set comes from the same pass: the sentinel width n_cells
    probes every cell, which IS brute force (same candidates, same 6 dp
    rounding, same tie order) — no second scoring pass. The tiny
    (widths·queries·k)-row top-k relation is eagerly checkpointed
    because it feeds both the truth side and the per-width side (the
    double-evaluation rule for pandas-UDF upstreams). By construction
    recall at n_cells is exactly 1.0 and recall is non-decreasing in
    width; both pinned by tests.

    Rows-only (the quantizer rides numpy argsort over xxhash64-sampled
    centroids — no SQL oracle); the full-width slice doubles as the
    exact baseline, itself test-pinned equal to `topk_cosine_bruteforce`.

    Scale shape: priced as ONE brute-force pass (the sentinel width
    scans every cell once); queries and their ranked-cell arrays are
    broadcast; per-width top-k is a window over per-query candidates.
    At 100 TB you run it on a sampled query set against a sampled
    corpus slice — the shape is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb, n_cells)
    cell_of = _cell_assign_udf(cents)
    ranked_cells = _ranked_cells_udf(cents)

    corpus = spread(emb).select(
        "vec_id",
        "embedding",
        cell_of("embedding").alias("cell"),
        l2_norm("embedding").alias("nrm"),
    )
    queries = broadcast(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            l2_norm("embedding").alias("qnrm"),
            ranked_cells("embedding").alias("cell_order"),
        )
    )
    # score each (query, candidate) ONCE; probe rank = 1-based position
    # of the candidate's cell in the query's ranked cell list
    scored = (
        corpus.join(queries, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.array_position(F.col("cell_order"), F.col("cell")).alias(
                "cell_rank"
            ),
            F.round(
                dot("qvec", "embedding") / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    curve_widths = sorted(set(int(p) for p in probe_widths))
    # sentinel width n_cells = every cell probed = the brute-force truth;
    # ranked once alongside the requested widths in the SAME pass
    all_widths = sorted(set(curve_widths + [n_cells]))
    widths = F.explode(
        F.array(*[F.lit(p) for p in all_widths])
    ).alias("n_probe")
    per_width = scored.select("query_id", "vec_id", "cell_rank", "sim", widths)
    w = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    ivf_topk = (
        per_width.filter(F.col("cell_rank") <= F.col("n_probe"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("n_probe", "query_id", "vec_id")
        # consumed at TWO plan sites (truth + per-width) — eager
        # checkpoint so the pandas-UDF scoring pass runs exactly once;
        # the relation is |widths|·n_queries·k rows, control-plane sized
        .localCheckpoint(eager=True)
    )
    truth = ivf_topk.filter(F.col("n_probe") == n_cells).select(
        "query_id", "vec_id"
    )
    hits = (
        ivf_topk.filter(F.col("n_probe").isin(curve_widths))
        .join(truth, ["query_id", "vec_id"])
        .groupBy("n_probe", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    # materialize the full (n_probe, query) grid so a width that recalls
    # ZERO truth neighbors for some query still averages as 0, not as a
    # missing row (the categorical zero-cell rule)
    grid = broadcast(
        spark.range(n_queries)
        .select(F.col("id").alias("query_id"))
        .crossJoin(
            spark.createDataFrame(
                [(p,) for p in curve_widths], "n_probe int"
            )
        )
    )
    return (
        grid.join(hits, ["n_probe", "query_id"], "left")
        .select(
            "n_probe",
            "query_id",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        )
        .groupBy("n_probe")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg(F.col("n_hit").cast("double") / F.lit(float(k))), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy("n_probe")
    )


def n2_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid drift: each label's mean vector
    compared (cosine) against the corpus mean — the embedding-space
    monitor that catches a class collapsing toward the global mean
    (features washing out) or drifting away (distribution shift /
    upstream encoder change) long before downstream eval moves.

    Exactness: centroids are exact component means (sum/count per
    dimension); cosine is formed from those 640 aggregate rows and
    rounded 6 dp (the float-aggregate convention the corr/spearman
    oracles certified — partial-agg ordering ulps are erased by the
    round). Zero-norm centroids are filtered on BOTH engines (the ANSI
    zero-division rule).

    Scale shape: one embeddings scan → posexplode to (label, dim) →
    hash agg to |labels|·dim component sums; the corpus centroid is a
    RE-aggregate of that tiny relation (no second scan); everything
    after the first agg is control-plane-sized."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "label", F.posexplode(as_double("embedding")).alias("i", "v")
    )
    per = e.groupBy("label", "i").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    corpus = per.groupBy("i").agg(
        F.sum("s").alias("cs"), F.sum("n").alias("cn")
    )
    m = F.col("s") / F.col("n")
    mc = F.col("cs") / F.col("cn")
    agg = (
        per.join(corpus, "i")
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sqrt(F.sum(m * m)).alias("_nl"),
            F.sqrt(F.sum(mc * mc)).alias("_nc"),
            F.sum(m * mc).alias("_dot"),
        )
        .filter((F.col("_nl") > 0) & (F.col("_nc") > 0))
    )
    return agg.select(
        "label",
        "n_vecs",
        F.round(F.col("_nl"), 6).alias("centroid_norm"),
        F.round(F.col("_dot") / (F.col("_nl") * F.col("_nc")), 6).alias(
            "cos_to_corpus"
        ),
    ).orderBy("label")


LABEL_CENTROID_DRIFT_SQL = f"""
WITH e AS (
  SELECT label,
         unnest(range(1, {DIM + 1})) AS i,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
), per AS (
  SELECT label, i, sum(v) AS s, count(*) AS n FROM e GROUP BY 1, 2
), corpus AS (
  SELECT i, sum(s) AS cs, CAST(sum(n) AS BIGINT) AS cn FROM per GROUP BY 1
), agg AS (
  SELECT label,
         CAST(max(n) AS BIGINT) AS n_vecs,
         sqrt(sum((s / n) * (s / n))) AS nl,
         sqrt(sum((cs / cn) * (cs / cn))) AS nc,
         sum((s / n) * (cs / cn)) AS dt
  FROM per JOIN corpus USING (i)
  GROUP BY label
)
SELECT label, n_vecs,
       round(nl, 6) AS centroid_norm,
       round(dt / (nl * nc), 6) AS cos_to_corpus
FROM agg
WHERE nl > 0 AND nc > 0
ORDER BY label
"""


def n2_anisotropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row embedding-space health report: anisotropy (how much of the
    average squared norm the corpus mean direction eats — the "common
    direction" pathology that inflates every cosine) and the participation
    ratio (Σvar)²/Σvar² — the effective number of dimensions actually
    carrying variance (64 = isotropic, ~1 = collapsed to a line). The two
    numbers a retrieval stack checks after any encoder change: rising
    anisotropy or a falling participation ratio predicts cosine-ranking
    degradation before any recall eval moves.

    Built entirely from the per-dimension sufficient statistics (s, ss, n)
    of ONE posexplode scan — the same float-aggregate convention the
    dim-stats/centroid-drift oracles certified: double sums whose
    partial-agg ordering ulps are erased by the 6 dp round. Dead
    dimensions counted at sample variance < 1e-6, with the variance
    rounded to 9 dp first so the threshold compare is ulp-stable
    across engines (same convention as the silhouette's
    round-before-compare).

    Scale shape: posexplode fans to dim rows but map-side partial
    aggregation folds to O(dims × partitions) before the exchange; the
    final report aggregates 64 rows. Degenerate corpora (zero variance
    everywhere, all-zero vectors) yield NULL anisotropy/participation
    ratio (guarded), never NaN — the ANSI zero-division convention."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        F.posexplode(as_double("embedding")).alias("i", "v")
    )
    per = e.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    m = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    agg = per.agg(
        F.max("n").alias("n_vecs"),
        F.count(F.lit(1)).alias("n_dims"),
        F.sum(m * m).alias("_mu2"),
        F.sum(F.col("ss") / F.col("n")).alias("_ex2"),
        F.sum(var).alias("_v1"),
        F.sum(var * var).alias("_v2"),
        # round the ulp-uncertain double variance to fixed precision
        # BEFORE the threshold compare (ADVICE r9): partial-agg ordering
        # can move var by ±ulps across engines, and an unrounded compare
        # against 1e-6 could count a knife-edge dimension differently
        F.sum((F.round(var, 9) < 1e-6).cast("long")).alias("n_dead_dims"),
    )
    return agg.select(
        "n_vecs",
        "n_dims",
        F.round(F.sqrt(F.col("_mu2")), 6).alias("centroid_norm"),
        F.round(F.sqrt(F.col("_ex2")), 6).alias("rms_norm"),
        F.when(
            F.col("_ex2") > 0, F.round(F.col("_mu2") / F.col("_ex2"), 6)
        ).alias("anisotropy"),
        F.when(
            F.col("_v2") > 0,
            F.round(F.col("_v1") * F.col("_v1") / F.col("_v2"), 6),
        ).alias("participation_ratio"),
        "n_dead_dims",
    )


ANISOTROPY_SQL = """
WITH e AS (
  SELECT unnest(generate_series(1, len(embedding))) AS i,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
), per AS (
  SELECT i, count(*) AS n, sum(v) AS s, sum(v * v) AS ss
  FROM e GROUP BY i
), stats AS (
  SELECT i, n, s, ss,
         (s / n) * (s / n) AS m2,
         ss / n AS ex2,
         (ss - s * s / n) / (n - 1) AS var
  FROM per
)
SELECT CAST(max(n) AS BIGINT) AS n_vecs,
       count(*) AS n_dims,
       round(sqrt(sum(m2)), 6) AS centroid_norm,
       round(sqrt(sum(ex2)), 6) AS rms_norm,
       CASE WHEN sum(ex2) > 0 THEN round(sum(m2) / sum(ex2), 6) END AS anisotropy,
       CASE WHEN sum(var * var) > 0
            THEN round(sum(var) * sum(var) / sum(var * var), 6)
       END AS participation_ratio,
       CAST(sum(CASE WHEN round(var, 9) < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dead_dims
FROM stats
"""


def n2_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label simplified (centroid) silhouette: for every vector,
    a = distance to its OWN label centroid, b = distance to the NEAREST
    other label's centroid, s = (b − a)/max(a, b) — the clustering-quality
    score that tells a labeling/eval pipeline which classes are compact
    and separated (s → 1) vs bleeding into a neighbor (s ≤ 0), at
    centroid cost instead of the quadratic full-pairwise silhouette.

    Exactness across engines: centroids are built from FIXED-POINT
    integer component sums (the kmeans convention — ×10⁶ → round → int64
    — so partial-agg ordering cannot perturb them), each squared distance
    is rounded to 6 dp BEFORE the min/compare (so the nearest-other
    choice is deterministic on both engines), and the final averages
    round to 6 dp.

    Scale shape: one posexplode scan → |labels|·dim fixed-point sums →
    centroid arrays (a |labels|-row broadcast, the allowlisted scalar
    shape); the per-vector pass is a map-side zip_with against the
    broadcast centroids — n·|labels| candidate rows, never n²."""
    from hadoop_stuff_spark.operators.kmeans import FP

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", as_double("embedding").alias("vec")
    )
    fx = F.round(F.col("v") * FP, 0).cast("long")
    sums = (
        emb.select("label", F.posexplode("vec").alias("i", "v"))
        .select("label", "i", fx.alias("fx"))
        .groupBy("label", "i")
        .agg(F.sum("fx").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cents = (
        sums.select(
            F.col("label").alias("clabel"),
            F.struct("i", ((F.col("s") / float(FP)) / F.col("n")).alias("m")).alias(
                "im"
            ),
        )
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("im")), lambda z: z.getField("m")
            ).alias("cent")
        )
    )
    dist = F.round(
        F.aggregate(
            F.zip_with(
                F.col("vec"), F.col("cent"), lambda x, c: (x - c) * (x - c)
            ),
            F.lit(0.0),
            lambda acc, y: acc + y,
        ),
        6,
    )
    pv = (
        emb.join(F.broadcast(cents))
        .select("vec_id", "label", "clabel", dist.alias("dist"))
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.max(F.when(F.col("clabel") == F.col("label"), F.col("dist")))
            ).alias("a"),
            F.sqrt(
                F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist")))
            ).alias("b"),
        )
    )
    sil = F.when(
        F.greatest(F.col("a"), F.col("b")) > 0,
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")),
    ).otherwise(F.lit(0.0))
    return (
        pv.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("a"), 6).alias("avg_dist_own"),
            F.round(F.avg("b"), 6).alias("avg_dist_other"),
            F.round(F.avg(sil), 6).alias("avg_silhouette"),
        )
        .orderBy("label")
    )


LABEL_SILHOUETTE_SQL = """
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
), sums AS (
  SELECT label, unnest(generate_series(1, len(vec))) AS i,
         CAST(round(unnest(vec) * 1000000.0, 0) AS BIGINT) AS fx
  FROM vecs
), persum AS (
  SELECT label, i, CAST(sum(fx) AS BIGINT) AS s, count(*) AS n
  FROM sums GROUP BY 1, 2
), cents AS (
  SELECT label AS clabel, list((s / 1000000.0) / n ORDER BY i) AS cent
  FROM persum GROUP BY label
), dists AS (
  SELECT v.vec_id, v.label, c.clabel,
         round(list_aggregate(list_transform(list_zip(v.vec, c.cent),
               z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum'), 6) AS dist
  FROM vecs v CROSS JOIN cents c
), pv AS (
  SELECT vec_id, label,
         sqrt(max(CASE WHEN clabel = label THEN dist END)) AS a,
         sqrt(min(CASE WHEN clabel <> label THEN dist END)) AS b
  FROM dists GROUP BY 1, 2
)
SELECT label, count(*) AS n_vecs,
       round(avg(a), 6) AS avg_dist_own,
       round(avg(b), 6) AS avg_dist_other,
       round(avg(CASE WHEN greatest(a, b) > 0
                      THEN (b - a) / greatest(a, b) ELSE 0.0 END), 6)
         AS avg_silhouette
FROM pv
GROUP BY label
ORDER BY label
"""


def n2_source_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-SOURCE embedding centroids — the
    source-level semantic-redundancy matrix a mixture planner reads next
    to :func:`operators.dedup.n3_dedup_aware_mixture_shift`: two sources
    whose centroids are near-parallel contribute overlapping semantic
    mass, so their combined mixture weight over-represents one region of
    embedding space even when no individual documents are near-dups
    (which is why :func:`operators.dedup.n1_cross_source_dup_matrix`
    cannot see it). Embeddings map to sources through the vec_id ↔
    doc_id identity (the corpus convention of the hybrid/BM25 ops).

    Exactness: centroids are exact per-dimension component means over
    int64 counts; each pair's cosine is formed from the tiny aggregate
    relation and rounded 6 dp (the float-aggregate convention — partial
    agg ordering ulps are erased by the round); zero-norm centroids are
    filtered on BOTH engines (the ANSI zero-division rule).

    Scale shape: one embeddings⋈documents join (doc-grain, the only
    data shuffle) → posexplode → hash agg to |sources|·dim component
    sums; the pair join runs on that control-plane-sized relation
    (|sources|²·dim), never on document rows."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "source", F.posexplode(as_double("embedding")).alias("i", "v")
    )
    per = e.groupBy("source", "i").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a, b = per.alias("a"), per.alias("b")
    ma = F.col("a.s") / F.col("a.n")
    mb = F.col("b.s") / F.col("b.n")
    pairs = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.max("a.n").alias("n_a"),
            F.max("b.n").alias("n_b"),
            F.sqrt(F.sum(ma * ma)).alias("_na"),
            F.sqrt(F.sum(mb * mb)).alias("_nb"),
            F.sum(ma * mb).alias("_dot"),
        )
        .filter((F.col("_na") > 0) & (F.col("_nb") > 0))
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6).alias(
            "cos_centroids"
        ),
    ).orderBy("source_a", "source_b")


SOURCE_CENTROID_SIMILARITY_SQL = f"""
WITH e AS (
  SELECT d.source,
         unnest(range(1, {DIM + 1})) AS i,
         unnest(em.embedding::DOUBLE[]) AS v
  FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
), per AS (
  SELECT source, i, sum(v) AS s, count(*) AS n FROM e GROUP BY 1, 2
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(max(a.n) AS BIGINT) AS n_a,
         CAST(max(b.n) AS BIGINT) AS n_b,
         sqrt(sum((a.s / a.n) * (a.s / a.n))) AS na,
         sqrt(sum((b.s / b.n) * (b.s / b.n))) AS nb,
         sum((a.s / a.n) * (b.s / b.n)) AS dt
  FROM per a JOIN per b ON a.i = b.i AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_a, n_b,
       round(dt / (na * nb), 6) AS cos_centroids
FROM pairs
WHERE na > 0 AND nb > 0
ORDER BY source_a, source_b
"""


# JL target dimensionality, shared by the Spark chain and
# JL_DISTORTION_SQL (source dimensionality is the module DIM)
_JL_DIM = 16

# block-pair fan-out of the JL pair scorer: B blocks -> B(B+1)/2 Arrow
# tasks, each holding <= ~2·sample/B rows; per-task bytes loudly guarded
# (the max_cell_rows pattern). 8 blocks = 36 tasks — enough to saturate
# the local core count and a cluster's task granularity alike; raise for
# bigger samples (parallelism grows quadratically, shuffle volume
# linearly in B).
_JL_BLOCKS = 8
# rows per cosine step: each step holds a _JL_STEP × rows float64 cosine
# block in each space
_JL_STEP = 1024
# 1 GiB per Python worker: ~63k rows per block-pair task
_JL_MAX_BLOCK_BYTES = 1 << 30


def _jl_block_guard(gi: int, gj: int, rows: int, max_bytes: int) -> None:
    """Fail a JL block-pair task before numpy allocates past
    ``max_bytes``. Its memory grows with bytes, not rows: the stacked
    original and projected matrices (rows × (DIM + _JL_DIM) float64)
    plus the two _JL_STEP × rows float64 cosine blocks of each step."""
    need = 8 * rows * (DIM + _JL_DIM + 2 * _JL_STEP)
    if need > max_bytes:
        raise ValueError(
            f"jl block pair ({gi},{gj}) holds {rows} rows = {need} bytes "
            f"> _JL_MAX_BLOCK_BYTES={max_bytes}: tighten the sample "
            "fraction or raise _JL_BLOCKS so each block-pair task fits "
            "in one Python worker"
        )


def n2_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign-projection distortion report — the
    certification a retrieval stack wants BEFORE swapping 64-dim cosine
    for a cheaper 16-dim projected cosine (the standard dimensionality
    cut ahead of LSH/IVF at corpus scale): over a deterministic ~20%
    vector sample (the :func:`n2_cosine_pair_histogram` convention),
    every pair is scored in BOTH spaces and the absolute cosine
    distortion |cos₆₄ − cos₁₆| is histogrammed in 0.05-wide bins. Mass
    piling up in the high bins = the projection is too narrow for the
    corpus' spectrum (read next to :func:`n2_pca_spectrum`).

    The projection is a DETERMINISTIC Rademacher (±1) sign matrix —
    sign(i, j) = +1 iff the first hex digit of md5('jl:i:j') < '8' — so
    both engines, every run and every partitioning build the identical
    matrix from the identical string compares (the deterministic_keep
    convention applied to a matrix); the 1/√d scaling cancels in cosine
    and is omitted.

    Exactness: projected components are 64-term sums whose partial-agg
    ordering ulps are erased by the 6 dp cosine round (the centroid
    convention); zero-norm vectors are filtered in BOTH spaces on BOTH
    engines (ANSI rule — a projection can null a nonzero vector);
    binning floors identical doubles, capped into the top bin.

    Scale shape: the sample bounds everything — one embeddings scan
    keeps ~20% of rows, and the all-pairs scoring runs as a
    BLOCK-PAIR-distributed numpy stage (r13, VERDICT r12 #3: the single
    ``groupBy(lit(1))`` Arrow task this replaces held the whole sample
    in one Python worker — zero parallelism and an unguarded memory
    cliff): each vector gets a deterministic block id in [0, B) from
    xxhash64, is fanned out B ways, and every unordered block pair
    (i <= j) scores its cross (or in-block upper-triangle) pairs in its
    own Arrow task with the semdedup row-blocked matmul (block × n,
    never n² resident), emitting a partial 20-bin histogram; the bins
    sum JVM-side. Every unordered vector pair lands in exactly one
    block-pair group, so the summed integers are identical to the
    single-pass histogram. The ±1 grid is driver-built from the same
    1024 md5 strings. Per-task memory is bounded by the two blocks
    (~2·n/B rows), loudly guarded at ``_JL_MAX_BLOCK_BYTES`` (the
    max_cell_rows pattern); parallelism scales as B(B+1)/2 tasks.
    The declarative explode + broadcast-grid join + pair self-join
    replaced in r12 evaluated ~6.4M interpreted HOF fold lambdas —
    measured 3.1 s vs 0.7 s at sf0.1; outputs verified identical at
    sf0.001/0.01/0.1 (numpy's pairwise summation ulps vs the
    sequential fold are erased by the 6 dp cosine round — the semdedup
    precedent). At corpus scale, tighten the sample fraction — the
    histogram is an estimate of the distortion DISTRIBUTION, not a
    per-vector report."""
    import hashlib

    from hadoop_stuff_spark.operators.sampling import deterministic_keep

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    s = emb.filter(deterministic_keep("vec_id", 0.2, "jlpairs")).select(
        "vec_id", as_double("embedding").alias("v")
    )
    s = s.filter(l2_norm("v") > 0)

    # the deterministic Rademacher grid, driver-built from the identical
    # md5 string compares the SQL mirror uses (1024 hashes — control
    # plane), shipped in the closure
    S = np.array(
        [
            [
                1.0
                if hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[0] < "8"
                else -1.0
                for j in range(_JL_DIM)
            ]
            for i in range(DIM)
        ],
        dtype=np.float64,
    )

    def _prep(vs):
        """Stack one side's vectors, apply the projected-zero-norm filter
        and return (m, p, nm, np_norm)."""
        m = np.stack(vs.to_numpy()).astype(np.float64)
        p = m @ S
        # zero-norm projected vectors have no direction (ANSI rule);
        # the original-space norms were filtered > 0 upstream. The keep
        # decision depends only on the vector, so every fanned-out copy
        # of a vector filters identically.
        keep = (p * p).sum(axis=1) > 0
        m, p = m[keep], p[keep]
        nm = np.sqrt((m * m).sum(axis=1))
        npn = np.sqrt((p * p).sum(axis=1))
        return m, p, nm, npn

    def round6(x):
        # ROUND_HALF_UP at 6 dp via the exact trunc/frac compare
        # (kmeans._fp_round_half_up — floor(x+0.5) itself rounds at
        # the ulp below a half); the ×10⁶ product matches the house
        # fixed-point convention, and any last-ulp divergence from
        # BigDecimal's scale-6 view of the raw double is erased by
        # the 6 dp grid (parity proven at 3 SFs)
        from hadoop_stuff_spark.operators.kmeans import _fp_round_half_up

        return _fp_round_half_up(x * 1e6) / 1e6

    def hist(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(key[0]), int(key[1])
        # the cap travels with this pickled closure; the guard itself is
        # imported on the executor and sees only the module default
        _jl_block_guard(gi, gj, len(pdf), _JL_MAX_BLOCK_BYTES)
        counts = np.zeros(20, dtype=np.int64)
        block = _JL_STEP
        if gi == gj:
            # in-block pairs: strict upper triangle; |Δcos| is
            # symmetric, so index order ≡ the vec_id < vec_id join
            m, p, nm, npn = _prep(pdf["v"])
            n = len(m)
            cols = np.arange(n)[None, :]
            for s0 in range(0, n, block):
                e0 = min(s0 + block, n)
                c1 = round6((m[s0:e0] @ m.T) / np.outer(nm[s0:e0], nm))
                c2 = round6((p[s0:e0] @ p.T) / np.outer(npn[s0:e0], npn))
                mask = cols > np.arange(s0, e0)[:, None]
                d = np.abs(c1 - c2)[mask]
                bins = np.minimum(np.floor(d / 0.05), 19).astype(np.int64)
                counts += np.bincount(bins, minlength=20)
        else:
            # cross-block pairs: every (a in block gi, b in block gj)
            # unordered pair meets exactly once, in this group
            side = pdf["_blk"].to_numpy()
            pa, pb = pdf["v"][side == gi], pdf["v"][side == gj]
            if len(pa) and len(pb):
                ma, paj, nma, npa = _prep(pa)
                mb, pbj, nmb, npb = _prep(pb)
                for s0 in range(0, len(ma), block):
                    e0 = min(s0 + block, len(ma))
                    c1 = round6((ma[s0:e0] @ mb.T) / np.outer(nma[s0:e0], nmb))
                    c2 = round6(
                        (paj[s0:e0] @ pbj.T) / np.outer(npa[s0:e0], npb)
                    )
                    d = np.abs(c1 - c2).ravel()
                    bins = np.minimum(np.floor(d / 0.05), 19).astype(np.int64)
                    counts += np.bincount(bins, minlength=20)
        nz = np.nonzero(counts)[0]
        return pd.DataFrame(
            {"bin": nz.astype(np.int64), "n_pairs": counts[nz]}
        )

    # deterministic block id + B-way fan-out: vector u (block b_u) meets
    # vector w (block b_w) exactly once, in group (min, max) — u's copy
    # tagged with other-block o = b_w and w's with o = b_u (o = b for the
    # in-block group, emitted once per vector)
    blk = F.pmod(F.xxhash64("vec_id"), F.lit(_JL_BLOCKS)).cast("int")
    fan = s.select(
        "v",
        blk.alias("_blk"),
        F.explode(
            F.sequence(F.lit(0), F.lit(_JL_BLOCKS - 1))
        ).alias("_o"),
    )
    binned = (
        fan.select(
            "v",
            "_blk",
            F.least("_blk", "_o").alias("_gi"),
            F.greatest("_blk", "_o").alias("_gj"),
        )
        .groupBy("_gi", "_gj")
        .applyInPandas(hist, "bin long, n_pairs long")
        .groupBy("bin")
        .agg(F.sum("n_pairs").alias("n_pairs"))
    )
    return binned.select(
        "bin",
        F.round(F.col("bin") * 0.05, 2).cast("double").alias("bin_lo"),
        "n_pairs",
    ).orderBy("bin")


JL_DISTORTION_SQL = f"""
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings
  WHERE substring(md5('jlpairs' || CAST(vec_id AS VARCHAR)), 1, 6) < '333333'
    AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
), e AS (
  SELECT vec_id, unnest(range(0, {DIM})) AS i, unnest(v) AS vv FROM s
), grid AS (
  SELECT i.i, j.j,
         CASE WHEN substring(md5('jl:' || CAST(i.i AS VARCHAR) || ':'
                                  || CAST(j.j AS VARCHAR)), 1, 1) < '8'
              THEN 1.0 ELSE -1.0 END AS sg
  FROM (SELECT unnest(range(0, {DIM})) AS i) i
  CROSS JOIN (SELECT unnest(range(0, {_JL_DIM})) AS j) j
), proj AS (
  SELECT vec_id, j, sum(vv * sg) AS pv FROM e JOIN grid USING (i) GROUP BY 1, 2
), parr AS (
  SELECT vec_id, list(pv ORDER BY j) AS p FROM proj GROUP BY 1
), sp AS (
  SELECT s.vec_id, s.v, parr.p
  FROM s JOIN parr USING (vec_id)
  WHERE list_sum(list_transform(parr.p, x -> x * x)) > 0
), sims AS (
  SELECT round(list_cosine_similarity(a.v, b.v), 6) AS c_orig,
         round(list_cosine_similarity(a.p, b.p), 6) AS c_proj
  FROM sp a JOIN sp b ON a.vec_id < b.vec_id
), binned AS (
  SELECT least(CAST(floor(abs(c_orig - c_proj) / 0.05) AS BIGINT), 19) AS bin
  FROM sims
)
SELECT bin,
       CAST(round(bin * 0.05, 2) AS DOUBLE) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM binned GROUP BY bin ORDER BY bin
"""


_PCA_SCHEMA = "i INT, j INT, val DOUBLE"


def _gram_partials(iterator):
    """Arrow-batched Gram/sum/count partials: per partition, fold every
    batch into G += VᵀV, s += ΣV, n += rows (numpy, no per-row Python),
    then emit the upper-triangle Gram entries as (i, j, val), the
    component sums as (i, -1, s_i) and the count as (-1, -1, n) — a
    fixed ~2.1k-row partial per partition regardless of data size."""
    import numpy as np
    import pandas as pd

    G = np.zeros((DIM, DIM))
    s = np.zeros(DIM)
    n = 0
    for pdf in iterator:
        if not len(pdf):
            continue
        V = np.vstack(pdf["v"].to_numpy())
        G += V.T @ V
        s += V.sum(axis=0)
        n += len(V)
    if not n:
        return
    iu, ju = np.triu_indices(DIM)
    yield pd.DataFrame(
        {
            "i": np.concatenate([iu, np.arange(DIM), [-1]]).astype("int32"),
            "j": np.concatenate(
                [ju, np.full(DIM, -1), [-1]]
            ).astype("int32"),
            "val": np.concatenate([G[iu, ju], s, [float(n)]]),
        }
    )


def n2_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA eigen-spectrum of the embedding corpus — the full principal
    spectrum behind :func:`n2_anisotropy_report`'s participation-ratio
    summary: eigenvalues of the sample covariance with per-component and
    cumulative explained-variance ratios. The readout that sizes a JL /
    PQ / IVF dimensionality budget (read next to
    :func:`n2_jl_projection_distortion`: a spectrum with 95% of the
    variance in 12 components explains a clean 16-dim projection).

    Not SQL-expressible (eigendecomposition) — rows-only certified, with
    the numpy cross-check and a planted-spectrum fixture pinned in
    tests. Deterministic: the covariance is assembled from exact
    single-pass partials and numpy's symmetric eigh.

    Scale shape: the 100 TB-correct PCA — ONE embeddings scan through an
    Arrow-batched :func:`_gram_partials` (numpy VᵀV per batch, never
    per-row Python), folding to a fixed ~2.1k-row partial PER PARTITION
    before the only exchange; the 64×64 covariance collects driver-side
    (control-plane-sized, the k-means-centroid convention) and eigh runs
    there. Embedding rows never shuffle."""
    import numpy as np

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        as_double("embedding").alias("v")
    )
    parts = (
        emb.mapInPandas(_gram_partials, _PCA_SCHEMA)
        .groupBy("i", "j")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    G = np.zeros((DIM, DIM))
    s = np.zeros(DIM)
    n = 0
    for r in parts:
        if r["i"] == -1:
            n = int(r["val"])
        elif r["j"] == -1:
            s[r["i"]] = r["val"]
        else:
            G[r["i"], r["j"]] = r["val"]
            G[r["j"], r["i"]] = r["val"]
    out_schema = (
        "component INT, eigenvalue DOUBLE, explained_ratio DOUBLE, "
        "cum_ratio DOUBLE"
    )
    if n < 2:
        return spark.createDataFrame([], out_schema)
    C = (G - np.outer(s, s) / n) / (n - 1)
    ev = np.linalg.eigvalsh(C)[::-1]  # descending
    total = float(ev.sum())
    rows = []
    cum = 0.0
    for k, lam in enumerate(ev):
        ratio = float(lam) / total if total > 0 else 0.0
        cum += ratio
        rows.append(
            (k + 1, round(float(lam), 6), round(ratio, 6), round(cum, 6))
        )
    return spark.createDataFrame(rows, out_schema)


_PCA_SRC_SCHEMA = "source STRING, i INT, j INT, val DOUBLE"


def _gram_partials_by_source(iterator):
    """Per-SOURCE Gram/sum/count partials: the :func:`_gram_partials`
    fold keyed by the batch's source column (numpy per source slice —
    the Python loop runs over the few sources present in a batch, never
    per row), emitting the same (i, j, val) encoding per source."""
    import numpy as np
    import pandas as pd

    acc: dict = {}
    for pdf in iterator:
        if not len(pdf):
            continue
        for src, sub in pdf.groupby("source", sort=False):
            V = np.vstack(sub["v"].to_numpy())
            G, s, n = acc.get(src) or (np.zeros((DIM, DIM)), np.zeros(DIM), 0)
            acc[src] = (G + V.T @ V, s + V.sum(axis=0), n + len(V))
    iu, ju = np.triu_indices(DIM)
    for src, (G, s, n) in acc.items():
        yield pd.DataFrame(
            {
                "source": src,
                "i": np.concatenate([iu, np.arange(DIM), [-1]]).astype(
                    "int32"
                ),
                "j": np.concatenate([ju, np.full(DIM, -1), [-1]]).astype(
                    "int32"
                ),
                "val": np.concatenate([G[iu, ju], s, [float(n)]]),
            }
        )


def n2_pca_spectrum_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE PCA eigen-spectra — :func:`n2_pca_spectrum` grouped by
    the document source (vec_id ↔ doc_id): the readout that tells a
    mixture planner whether a source's embeddings actually SPAN the
    space or collapse onto a few directions (a source with a steep
    spectrum contributes less semantic diversity than its token share
    suggests — read next to :func:`n2_source_centroid_similarity`, which
    sees only the first moment).

    Rows-only certified (eigendecomposition), numpy cross-check and a
    planted per-source spectrum pinned in tests. Sources with fewer than
    2 vectors have no sample covariance and are excluded.

    Scale shape: the grouped twin of the single-pass Gram fold — one
    embeddings⋈documents join, then Arrow-batched per-source partials
    (~2.1k rows per (partition, source)) fold through one hash agg; the
    |sources|·2.1k aggregate collects driver-side (control-plane-sized
    for any sane source count) and eigh runs per source there."""
    import numpy as np

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "source", as_double("embedding").alias("v")
    )
    parts = (
        e.mapInPandas(_gram_partials_by_source, _PCA_SRC_SCHEMA)
        .groupBy("source", "i", "j")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    acc: dict = {}
    for r in parts:
        G, s, meta = acc.setdefault(
            r["source"], (np.zeros((DIM, DIM)), np.zeros(DIM), {"n": 0})
        )
        if r["i"] == -1:
            meta["n"] = int(r["val"])
        elif r["j"] == -1:
            s[r["i"]] = r["val"]
        else:
            G[r["i"], r["j"]] = r["val"]
            G[r["j"], r["i"]] = r["val"]
    out_schema = (
        "source STRING, component INT, eigenvalue DOUBLE, "
        "explained_ratio DOUBLE, cum_ratio DOUBLE"
    )
    rows = []
    for src in sorted(acc):
        G, s, meta = acc[src]
        n = meta["n"]
        if n < 2:
            continue
        C = (G - np.outer(s, s) / n) / (n - 1)
        ev = np.linalg.eigvalsh(C)[::-1]
        total = float(ev.sum())
        cum = 0.0
        for k, lam in enumerate(ev):
            ratio = float(lam) / total if total > 0 else 0.0
            cum += ratio
            rows.append(
                (
                    src,
                    k + 1,
                    round(float(lam), 6),
                    round(ratio, 6),
                    round(cum, 6),
                )
            )
    return spark.createDataFrame(rows, out_schema)


# --------------------------------------------------------------------------
# IVF build-vs-probe cost table (VERDICT r11 #5)

def n2_ivf_cost_table(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    nlist_values: tuple[int, ...] = (8, 16, 32),
    probe_widths: tuple[int, ...] = (1, 2, 4, 8),
) -> DataFrame:
    """IVF build-vs-probe cost table (VERDICT r11 #5) — the sizing
    evidence a deployment needs BEFORE picking an index shape: for each
    quantizer size ``n_cells`` and probe width ``n_probe`` (plus the
    full-probe anchor n_probe = n_cells per quantizer), recall@k against
    the exact top-k and the fraction of the corpus actually scanned per
    query. Where :func:`n2_ivf_recall_curve` sweeps probe width at ONE
    quantizer size, this sweeps the build knob too — the two-way table
    an operator reads diagonally ("do 32 cells probing 4 beat 8 cells
    probing 1 at the same scan fraction?").

    ONE brute-force-priced pass total (not one per quantizer): every
    quantizer's cell assignment and every query's cell ranking ride the
    same scored relation — each (query, candidate) pair is cosine-scored
    once, carrying one probe-rank column per quantizer; a config then
    reads as a filter (rank <= n_probe) + per-config top-k window. The
    scored relation is eagerly localCheckpoint'ed because the truth
    window and every config's filter consume it (the pandas-UDF
    double-evaluation rule); truth = the pass's own full-candidate
    top-k, which IS brute force (same rounding, same tie order).

    probe_fraction = candidate rows scanned / corpus size, averaged over
    queries; the query's own row is excluded by the self-filter, so the
    full-probe anchor reads (N-1)/N, not 1.0 (stated, not hidden).

    Rows-only (the quantizers ride numpy argsort over xxhash64-sampled
    centroids — no SQL oracle); tests pin recall non-decreasing in
    n_probe per quantizer, recall == 1.0 at the full-probe anchor, and
    probe_fraction non-decreasing with the (N-1)/N anchor.

    Scale shape: priced as ONE exact pass over corpus × queries — the
    bounded-query-set diagnostic shape (broadcast queries + their
    ranked-cell arrays, corpus scanned once); at 100 TB you run it on a
    sampled corpus slice, and the table's RATIOS are what transfer, not
    the absolute candidate counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    nlists = sorted(set(int(n) for n in nlist_values))
    quantizers = {nl: _centroids(emb, nl) for nl in nlists}

    corpus = spread(emb).select(
        "vec_id",
        "embedding",
        l2_norm("embedding").alias("nrm"),
        *[
            _cell_assign_udf(quantizers[nl])("embedding").alias(f"cell_{nl}")
            for nl in nlists
        ],
    )
    queries = broadcast(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            l2_norm("embedding").alias("qnrm"),
            *[
                _ranked_cells_udf(quantizers[nl])("embedding").alias(
                    f"order_{nl}"
                )
                for nl in nlists
            ],
        )
    )
    scored = (
        corpus.join(queries, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot("qvec", "embedding") / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
            *[
                F.array_position(
                    F.col(f"order_{nl}"), F.col(f"cell_{nl}")
                ).alias(f"rank_{nl}")
                for nl in nlists
            ],
        )
        .localCheckpoint(eager=True)
    )
    n_corpus = emb.count()

    wt = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    truth = (
        scored.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id")
    )

    configs = [
        (nl, p)
        for nl in nlists
        for p in sorted(set(w for w in probe_widths if w < nl) | {nl})
    ]
    cfg = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(nl).alias("n_cells"), F.lit(p).alias("n_probe")
                )
                for nl, p in configs
            ]
        )
    ).alias("cfg")
    rank_for_cfg = F.col(f"rank_{nlists[0]}")
    for nl in nlists[1:]:
        rank_for_cfg = F.when(
            F.col("cfg.n_cells") == nl, F.col(f"rank_{nl}")
        ).otherwise(rank_for_cfg)
    cand = (
        scored.select(
            "query_id",
            "vec_id",
            "sim",
            *[f"rank_{nl}" for nl in nlists],
            cfg,
        )
        .select(
            "query_id",
            "vec_id",
            "sim",
            "cfg.n_cells",
            "cfg.n_probe",
            rank_for_cfg.alias("cell_rank"),
        )
        .filter(F.col("cell_rank") <= F.col("n_probe"))
    )
    wc = Window.partitionBy("n_cells", "n_probe", "query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    hits = (
        cand.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= k)
        .select("n_cells", "n_probe", "query_id", "vec_id")
        .join(truth, ["query_id", "vec_id"])
        .groupBy("n_cells", "n_probe", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    scanned = cand.groupBy("n_cells", "n_probe", "query_id").agg(
        F.count(F.lit(1)).alias("n_scanned")
    )
    # materialize the full (config, query) grid: a config that recalls
    # (or scans) NOTHING for some query must average as 0, not vanish
    # (the categorical zero-cell rule)
    grid = broadcast(
        spark.range(n_queries)
        .select(F.col("id").alias("query_id"), cfg)
        .select("query_id", "cfg.n_cells", "cfg.n_probe")
    )
    return (
        grid.join(hits, ["n_cells", "n_probe", "query_id"], "left")
        .join(scanned, ["n_cells", "n_probe", "query_id"], "left")
        .select(
            "n_cells",
            "n_probe",
            "query_id",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.coalesce("n_scanned", F.lit(0)).alias("n_scanned"),
        )
        .groupBy("n_cells", "n_probe")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(
                F.avg(F.col("n_hit").cast("double") / F.lit(float(k))), 6
            ).alias("recall_at_k"),
            F.round(
                F.avg(
                    F.col("n_scanned").cast("double")
                    / F.lit(float(n_corpus))
                ),
                6,
            ).alias("probe_fraction"),
        )
        .orderBy("n_cells", "n_probe")
    )


# --------------------------------------------------------------------------
# MMR diversified retrieval (r12)

_MMR_SCHEMA = (
    "query_id LONG, rank INT, vec_id LONG, relevance DOUBLE, "
    "mmr_score DOUBLE"
)


def _mmr_greedy_factory(k: int, lam: float):
    """Per-query greedy MMR over an Arrow-delivered candidate frame:
    numpy pairwise sims inside the bounded pool (never per-row Python),
    picks argmax of lam·rel − (1−lam)·max-sim-to-selected with the
    deterministic (score 9 dp desc, vec_id asc) tie order."""
    import numpy as np
    import pandas as pd

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        rel = pdf["sim"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        S = np.round(V @ V.T, 6)
        n = len(pdf)
        chosen: list[int] = []
        max_sim = np.full(n, -np.inf)
        out = []
        for rank in range(1, min(k, n) + 1):
            if chosen:
                score = lam * rel - (1.0 - lam) * max_sim
            else:
                score = lam * rel
            score = np.round(score, 9)
            score[chosen] = -np.inf
            best = min(
                (i for i in range(n) if i not in chosen),
                key=lambda i: (-score[i], ids[i]),
            )
            chosen.append(best)
            max_sim = np.maximum(max_sim, S[:, best])
            out.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    rank,
                    int(ids[best]),
                    round(float(rel[best]), 6),
                    round(float(score[best]), 6),
                )
            )
        return pd.DataFrame(
            out,
            columns=["query_id", "rank", "vec_id", "relevance", "mmr_score"],
        )

    return mmr


def n2_mmr_diversified_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k — the retrieval
    diversifier the ranking family lacks (:func:`n2_hybrid_rrf_fusion`
    fuses rankers, this DE-DUPLICATES one ranking): greedily pick the
    candidate maximizing lam·relevance − (1−lam)·max-similarity-to-
    already-picked, so a result list of near-identical passages spends
    its k slots on coverage instead. At lam = 1.0 it degenerates to
    plain cosine top-k EXACTLY (pinned by tests against
    :func:`topk_cosine_bruteforce`).

    Two-stage shape, which is what makes it scale: stage 1 is any
    top-``pool`` retrieval (here the exact scorer; at corpus scale the
    IVF/PQ path) — stage 2's greedy loop runs per query over the
    BOUNDED pool inside one Arrow batch (numpy pairwise sims over
    ≤pool vectors; k·pool dot products — control-plane sized), so the
    O(k·pool) greedy never touches corpus-scale data. Determinism: 6 dp
    pool sims, 9 dp scores, (score desc, vec_id asc) tie order — same
    rails as every ranking op.

    Rows-only (greedy argmax has no tractable SQL mirror); tests pin
    the lam=1.0 degeneration, a plain-Python greedy replay, and a
    planted near-duplicate fixture where MMR must spend its slots on
    coverage while plain top-k wastes them."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = broadcast(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            l2_norm("embedding").alias("qnrm"),
        )
    )
    corpus = spread(emb).select(
        "vec_id",
        as_double("embedding").alias("v"),
        l2_norm("embedding").alias("nrm"),
    ).filter(F.col("nrm") > 0)
    scored = corpus.join(queries, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        "v",
        F.round(
            dot("qvec", "v") / (F.col("qnrm") * F.col("nrm")), 6
        ).alias("sim"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    cands = (
        scored.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= pool)
        .select("query_id", "vec_id", "v", "sim")
    )
    return (
        cands.groupBy("query_id")
        .applyInPandas(_mmr_greedy_factory(k, lam), _MMR_SCHEMA)
        .orderBy("query_id", "rank")
    )
