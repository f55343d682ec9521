"""Deduplication operators (SURVEY.md §2.7 N1): exact, n-gram Jaccard,
MinHash+LSH, SimHash — over the ``documents`` table.

Scale design:
- exact dedup: hash-aggregate on the dedup key (fingerprint), partial
  map-side — the only shuffle carries (key, min_id, count).
- n-gram Jaccard: the exact pairwise verifier. Inverted-index self-join on
  shingles (explode → join on shingle → count) — correct but quadratic in
  docs-per-shingle; at 100 TB use it only on LSH candidate pairs.
- MinHash+LSH: the scale path. Deterministic signature (xxhash64 seeded per
  permutation — no random coefficients, reproducible across runs), banded
  into buckets; candidate pairs = bucket join; verified by signature
  agreement (estimated Jaccard). Shuffle carries (band_hash, doc_id) pairs
  only, never text.
- SimHash: 64-bit signatures via one Arrow-batched pandas UDF (hashlib
  md5 per token — no JVM equivalent); near-dup = small Hamming distance,
  which is a cheap bucketed self-join on rotated prefixes at scale.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions import text as T
from hadoop_stuff_spark.functions.text import fingerprint_md5, shingles
from hadoop_stuff_spark.operators.pairs import drop_hot_keys, pair_counts, with_set_sizes
from hadoop_stuff_spark.operators.sampling import (
    _BUDGET_MAX_EPOCHS,
    _BUDGET_TAU,
    _BUDGET_TOKENS,
)

# ---------------------------------------------------------------------------
# exact dedup


def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups by normalized-text fingerprint: canonical
    (min) doc_id + group size per distinct content. Keys on the shared
    :func:`_doc_fingerprints` relation (one fingerprint definition for
    every exact-dup operator; the unused source column prunes away)."""
    return (
        _doc_fingerprints(spark, sf_dir)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS canonical_doc_id, count(*) AS group_size
FROM documents GROUP BY 1
"""


def drop_exact_duplicates(df: DataFrame, content_col: str = "text") -> DataFrame:
    """Engine API: keep one row per distinct normalized content, the one
    with the least ``doc_id`` — the canonical copy every exact-dup
    operator picks (`dedup_exact_groups`, `_canonical_first`). Spark
    limits each fingerprint group to that row before the shuffle
    (WindowGroupLimit), so the exchange carries at most one row per
    fingerprint per input partition."""
    first = Window.partitionBy("_fp").orderBy("doc_id")
    return (
        df.withColumn("_fp", fingerprint_md5(content_col))
        .withColumn("_rank", F.row_number().over(first))
        .filter(F.col("_rank") == 1)
        .drop("_fp", "_rank")
    )


# ---------------------------------------------------------------------------
# word-shingle helpers


def _shingle_index(docs, n: int, max_doc_freq: int | None):
    """(doc_id, shingle) inverted-index relation with the hot-shingle
    guard applied: shingles whose document frequency exceeds
    ``max_doc_freq`` are cut (:func:`pairs.drop_hot_keys`) BEFORE any
    self-join, which keeps docs-per-shingle — and so candidate pairs —
    bounded; see ngram_jaccard_pairs for the semantics."""
    sh = docs.select("doc_id", F.explode(shingles("text", n)).alias("shingle"))
    if max_doc_freq is not None:
        sh = drop_hot_keys(sh, "shingle", max_doc_freq)
    return sh


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (doc_a < doc_b, similarity
    >= threshold) via inverted-index self-join: the join key is the shingle,
    so only docs sharing a shingle ever meet.

    The inverted index is quadratic in docs-per-shingle: a single
    stop-shingle shared by 1M documents would generate 10^12 candidate
    pairs. ``max_doc_freq`` is the guard: shingles whose document frequency
    exceeds it are treated as stop-shingles and removed from the shingle
    universe BEFORE the self-join — consistently, from both the
    intersection (common counts) and the union (per-doc sizes), so the
    reported value is the true Jaccard of the *filtered* shingle sets.
    Semantics change vs unguarded: a pair whose ONLY shared shingles are
    stop-shingles is not reported (by construction such pairs share only
    corpus-ubiquitous text, so they are near-dup noise, not signal).
    ``max_doc_freq=None`` disables the guard (exact verifier on
    pre-filtered candidate sets)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = _shingle_index(docs, n, max_doc_freq)
    out = (
        _pair_counts(sh)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )
    return out


def _pair_counts(sh) -> DataFrame:
    """Shared candidate-pair machinery of the exact shingle-set dedup
    metrics (Jaccard, containment): the shingle-index pairs with their
    shared-shingle count and both filtered-set sizes. Returns (doc_a,
    doc_b, n_common, size_a, size_b); the caller applies its score."""
    pair = ("doc_a", "doc_b")
    return with_set_sizes(pair_counts(sh, "shingle", "doc_id", pair), sh, "doc_id", pair)


# shared CTE block of the exact shingle-set metrics — the SQL mirror of
# _shingle_index + _pair_counts (shingle width, df-cut 1000, pair join all
# live HERE, once, for both metrics' oracles)
_SHINGLE_PAIRS_CTE = """
WITH sh_all AS (
  SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle
  FROM (
    SELECT doc_id,
           list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                          i -> array_to_string(toks[i:i+2], ' ')) AS sh_list
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
), sh AS (  -- stop-shingle guard: drop shingles with doc freq > 1000
  SELECT doc_id, shingle FROM sh_all
  WHERE shingle IN (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= 1000)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

# NOTE: the WHERE thresholds the ROUNDED value — the engine filters on
# round(jaccard, 6) >= threshold, so the oracle must too, or a boundary
# pair (raw in [0.3999995, 0.4)) passes one engine and not the other.
NGRAM_JACCARD_SQL = (
    _SHINGLE_PAIRS_CTE
    + """
SELECT doc_a, doc_b, n_common,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.4
"""
)


def ngram_containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.7,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC containment near-duplicates: pairs where the smaller
    document's shingle set is (mostly) inside the larger's —
    max(|A∩B|/|A|, |A∩B|/|B|) >= threshold. This is the case Jaccard
    structurally misses: a paragraph quoted whole inside a 100x longer
    document has containment ~1.0 but Jaccard ~0.01, so a
    Jaccard-thresholded dedup keeps both copies. Containment is the
    standard companion metric (quote/boilerplate/subset detection).

    Same inverted-index + hot-shingle-guard machinery as
    :func:`ngram_jaccard_pairs` (the df-cut applies to intersection and
    sizes consistently, so values are true containment of the filtered
    shingle sets); only the score changes. Output per pair: the shared
    count, both containments, and the max that was thresholded.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = _shingle_index(docs, n, max_doc_freq)
    return (
        _pair_counts(sh)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(F.col("n_common") / F.col("size_a"), 6).alias("containment_a"),
            F.round(F.col("n_common") / F.col("size_b"), 6).alias("containment_b"),
        )
        .withColumn(
            "containment", F.greatest("containment_a", "containment_b")
        )
        .filter(F.col("containment") >= threshold)
    )


NGRAM_CONTAINMENT_SQL = (
    _SHINGLE_PAIRS_CTE
    + """
SELECT doc_a, doc_b, n_common,
       round(n_common * 1.0 / sa.n_sh, 6) AS containment_a,
       round(n_common * 1.0 / sb.n_sh, 6) AS containment_b,
       greatest(round(n_common * 1.0 / sa.n_sh, 6),
                round(n_common * 1.0 / sb.n_sh, 6)) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE greatest(round(n_common * 1.0 / sa.n_sh, 6),
               round(n_common * 1.0 / sb.n_sh, 6)) >= 0.7
"""
)

# ---------------------------------------------------------------------------
# character edit-distance near-dup


def edit_distance_pairs(
    spark: SparkSession, sf_dir: str, max_dist: int = 16
) -> DataFrame:
    """Exact character-edit-distance near-duplicate pairs (doc_a < doc_b,
    levenshtein <= max_dist) — the dedup modality for *mechanical* edits
    (OCR noise, template fills, single-line patches) that token-set
    Jaccard under-weights.

    Plan: a length-band equi-join prunes losslessly first — edit distance
    <= k implies |len_a - len_b| <= k, so docs bucket by
    floor(len/(k+1)) and one side explodes to its bucket±1 (a pair
    within k can straddle at most one bucket boundary; the three
    neighbor keys are distinct, so each pair meets exactly once). The
    survivors run Spark's THRESHOLD levenshtein (banded O(len·k), JVM
    codegen, returns -1 past the band) — never the full O(len²) DP.

    Scale posture: length blocking alone is a weak partitioner at
    corpus scale (many docs share a length window); at 100 TB use this
    as the exact VERIFIER on MinHash/SimHash candidate pairs — same
    role ngram_jaccard_pairs plays — where the banded levenshtein and
    the one-scan band join are exactly what you want.

    Oracle note: EDIT_DISTANCE_SQL hardcodes the DEFAULT ``max_dist=16``
    (the registry-certified configuration) — calls with a different
    ``max_dist`` are covered by the planted-distance property tests, not
    the SQL oracle (the same default-only convention
    rolling_median_event_values and event_gap_report follow)."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", F.length("text").alias("len")
    )
    w = max_dist + 1
    bucket = F.floor(F.col("len") / w)
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.col("len").alias("len_a"),
        bucket.alias("bucket"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.col("len").alias("len_b"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bucket"),
    )
    dist = F.levenshtein("text_a", "text_b", max_dist)
    return (
        a.join(b, ["bucket"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        )
        .select("doc_a", "doc_b", dist.cast("long").alias("edit_dist"))
        .filter(F.col("edit_dist") >= 0)
    )


EDIT_DISTANCE_SQL = """
WITH cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.text, b.text) AS edit_dist
  FROM documents a JOIN documents b
    ON a.doc_id < b.doc_id
   AND abs(length(a.text) - length(b.text)) <= 16
)
SELECT doc_a, doc_b, CAST(edit_dist AS BIGINT) AS edit_dist
FROM cand WHERE edit_dist <= 16
"""


# ---------------------------------------------------------------------------
# MinHash + LSH

MINHASH_PERMS = 64  # signature length
LSH_BANDS = 16  # bands of 4 rows → catches jaccard ≳ 0.5 with high prob


_LONG_MAX = (1 << 63) - 1


def _minhash_perm_coeffs(perms: int) -> tuple:
    """Deterministic multiply-shift coefficients (a odd, b arbitrary) for
    ``perms`` universal-hash 'permutations'. Seeded → signatures are stable
    across runs, sessions, and cluster sizes."""
    import numpy as np

    rng = np.random.RandomState(42)
    a = rng.randint(1, 1 << 62, size=perms).astype(np.uint64) * 2 + 1
    b = rng.randint(0, 1 << 62, size=perms).astype(np.uint64)
    return a, b


def minhash_signature(col: Column | str, n: int = 3) -> Column:
    """Deterministic MinHash signature, Arrow-batched numpy: base-hash
    each n-gram shingle (vectorized murmur3 double-hash, 64-bit), then
    perm i = min over shingles of the multiply-shift universal hash
    ``a_i * h + b_i (mod 2^64)``. Per Arrow batch, ALL shingles of ALL
    documents are base-hashed in one length-class-vectorized call
    (`sketches.murmur3_64_np` — this removed the last interpreted inner
    loop, a per-shingle hashlib.md5 that VERDICT r5 flagged), and the
    (shingles × perms) work runs as one numpy broadcast multiply per
    document — C speed end to end.

    Why a pandas_udf and not Catalyst higher-order functions: HOF lambdas
    evaluate on Spark's interpreted expression path (never whole-stage
    codegen). An `aggregate`/`zip_with`/xxhash64 formulation of this exact
    signature measured 0.8-17s at sf0.1 (high variance: the interpreter
    path competes with C2 JIT); the md5-loop numpy version was a stable
    0.33s; the fully-vectorized version benches at parity at sf0.1 (the
    signature pass is scan-dominated at this scale) and removes the
    O(total shingles) Python-interpreter term that would dominate at
    100 TB. Docs with fewer than n tokens get the LONG_MAX sentinel
    signature (same as an empty-fold result), never a hash of empty
    text. The UDF reads :func:`T.tokens` arrays, so the tokenizer is the
    engine's one definition; a null text tokenizes like ``""``."""
    import numpy as np
    import pandas as pd

    from hadoop_stuff_spark.operators.sketches import murmur3_64_np

    a_co, b_co = _minhash_perm_coeffs(MINHASH_PERMS)

    @pandas_udf(ArrayType(LongType()))
    def _sig(token_arrays: pd.Series) -> pd.Series:
        sentinel = np.full(MINHASH_PERMS, _LONG_MAX, dtype=np.int64)
        shingle_lists: list[list[bytes]] = []
        flat: list[bytes] = []
        for arr in token_arrays:
            toks = [""] if arr is None else arr.tolist()
            sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            enc = [s.encode() for s in sh]
            shingle_lists.append(enc)
            flat.extend(enc)
        # one vectorized base-hash over every shingle in the batch
        h_all = murmur3_64_np(np.array(flat, dtype=object)) if flat else np.empty(0, np.uint64)
        out = []
        pos = 0
        for enc in shingle_lists:
            if not enc:
                out.append(sentinel)
                continue
            h = h_all[pos : pos + len(enc)]
            pos += len(enc)
            sigs = (a_co[None, :] * h[:, None] + b_co[None, :]).min(axis=0)
            out.append(sigs.view(np.int64))
        return pd.Series(out)

    return _sig(T.tokens(col))


def minhash_bands(
    sig: str, bands: int = LSH_BANDS, rows: int = MINHASH_PERMS // LSH_BANDS
) -> Column:
    """The LSH bands of MinHash signature column ``sig``, exploded: one
    struct<band: int, bucket: long> row per band, ``bucket`` the xxhash64
    of the band's ``rows`` signature values joined as decimal strings.

    One SQL expression, so the driver builds it in one parse. Built as
    ``bands`` Python-side struct Columns, one py4j call per Column
    operation, a banded select took 160-200 ms of driver time against
    30-60 ms for this one (4 cores). The buckets are the same bits either
    way, so signature stores written before stay probe-compatible."""
    return F.explode(
        F.expr(
            f"transform(sequence(0, {bands - 1}), b -> named_struct("
            f"'band', b, 'bucket', xxhash64(array_join(transform("
            f"slice(`{sig}`, b * {rows} + 1, {rows}), x -> cast(x AS string)), ','))))"
        )
    )


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) with estimated Jaccard from
    signature agreement (``MINHASH_PERMS`` values in ``LSH_BANDS``
    bands). Plan shape: one scan computing signatures → explode to
    (band_hash, id) → self-join per bucket → dedup pairs. The shuffle
    never carries document text."""
    sigs = spread(docs).select(
        F.col(id_col).alias("id"), minhash_signature(text_col, n).alias("sig")
    )
    # signatures are reused by the banding branch AND the two estimation
    # joins — materialize so the pandas-UDF signature pass runs once. An
    # eager localCheckpoint, not persist(): cached relations are held by
    # the session's cache manager until explicitly unpersisted (the r3
    # ADVICE leak on the simhash path — same shape here), while
    # checkpoint blocks are released by the ContextCleaner as soon as
    # the frame is garbage-collected. At cluster scale you would land
    # the signatures as a table instead (incremental.py's store).
    sigs = sigs.localCheckpoint(eager=True)
    # band on (band, bucket, id) ONLY — the 512 B signature must not ride
    # the bands-way explode through the candidate shuffle (16x payload
    # replication); surviving pairs re-join it below, once each side
    banded = sigs.select("id", minhash_bands("sig").alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )
    # the candidate set is the pair ids alone: an aggregate over two
    # longs is a plain HashAggregate (an array-carrying dropDuplicates
    # would force SortAggregate)
    pairs = pair_counts(banded, ["band", "bucket"], "id", ("doc_a", "doc_b")).select(
        "doc_a", "doc_b"
    )
    sa = sigs.select(F.col("id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(MINHASH_PERMS * 1.0),
        6,
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
    )


def minhash_near_dups(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs over documents (est Jaccard >=
    threshold). Driver records rows-only (approximate op — no SQL oracle);
    tests/test_dedup.py checks recall/precision against the exact
    ngram_jaccard_pairs.

    Unordered (VERDICT r1 #7): a global orderBy on the candidate-pair
    output is presentation-only and costs a full Exchange+Sort of every
    pair at scale; a caller that needs an order sorts the result."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidates(docs).filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (N1, embedding flavor)


def embedding_cosine_dups(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine >=
    threshold, rounded 6 dp before the filter so the DuckDB oracle applies
    the identical predicate). O(n²) pairwise — this is the *baseline/oracle*;
    the 100 TB path is :func:`embedding_cosine_dups_lsh`, which prunes pairs
    through sign-sketch buckets before the exact re-rank."""
    from hadoop_stuff_spark.functions.vectors import cosine

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    sim = F.round(cosine("va", "vb"), 6)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


EMBEDDING_COSINE_SQL = """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
"""


def embedding_cosine_dups_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    bands: int = 16,
    bits_per_band: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate embedding-cosine near-dup: candidate pairs must share at
    least one random-hyperplane sign-sketch bucket (same deterministic
    seeded hyperplanes as similarity.topk_cosine_lsh), then exact cosine
    re-rank + threshold. The self-join key is (band, bucket) — an equi-join
    Catalyst hashes, never a cartesian product. Rows-only check; recall
    vs :func:`embedding_cosine_dups` asserted in tests/test_dedup.py."""
    from hadoop_stuff_spark.functions.vectors import cosine
    from hadoop_stuff_spark.operators.similarity import sign_bands

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # band on ids only — the wide embedding must not be replicated
    # bands-way through the candidate shuffle; surviving pairs re-join it
    # once per side for the exact re-rank
    banded = emb.select(
        "vec_id",
        F.explode(sign_bands("embedding", bands, bits_per_band, seed)).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bucket")
    pairs = pair_counts(banded, ["band", "bucket"], "vec_id", ("vec_a", "vec_b")).select(
        "vec_a", "vec_b"
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    sim = F.round(cosine("va", "vb"), 6)
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash


@pandas_udf(LongType())
def _simhash64_udf(token_arrays: pd.Series) -> pd.Series:
    """64-bit SimHash over :func:`T.tokens` arrays, md5-based
    (engine-independent, deterministic). Arrow-batched AND numpy-vectorized
    (VERDICT r1 #5, the same treatment as the MinHash signature): per
    document the (tokens × 64 bits) work is one ``np.unpackbits`` + column
    sum — the only per-token Python left is the md5 call itself, amortized
    by a per-batch token→hash cache (documents share vocabulary heavily).
    A null token array (null text) gives a null signature."""
    import numpy as np

    cache: dict[str, int] = {}

    def simhash(toks):
        if toks is None:
            return None
        hs = np.empty(len(toks), dtype=np.uint64)
        for k, tok in enumerate(toks):
            v = cache.get(tok)
            if v is None:
                v = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
                cache[tok] = v
            hs[k] = v
        # little-endian uint64 → bytes LSB-first → column j == bit j of h,
        # exactly (h >> j) & 1
        bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
        ones = bits.sum(axis=0, dtype=np.int64)
        positive = (2 * ones - len(toks)) > 0  # sum of ±1 per bit > 0
        return int(np.packbits(positive, bitorder="little").view(np.int64)[0])

    return pd.Series([simhash(t) for t in token_arrays], dtype="object")


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash (rows-only check; properties tested in
    tests/test_dedup.py)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", _simhash64_udf(T.tokens("text")).alias("simhash"))


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    n_blocks: int | None = None,
) -> DataFrame:
    """Generic banded Hamming blocking over a 64-bit signature column:
    split into ``n_blocks`` equal bit blocks; any pair within Hamming
    distance <= max_hamming flips at most max_hamming blocks, so with
    ``n_blocks > max_hamming`` it MUST share >= 1 exact block
    (pigeonhole) — the candidate set is a bucketed equi-self-join with
    guaranteed complete recall, never a cartesian. Returns
    (id_a, id_b, hamming) filtered to <= max_hamming.

    ``n_blocks`` is derived from ``max_hamming`` when not given: the
    smallest power-of-two divisor of 64 strictly above it, so the
    completeness contract holds by construction (r3 ADVICE: the old
    fixed n_blocks=4 silently dropped pairs at distance 4..max_hamming).
    The tradeoff is explicit: wider max_hamming → more, narrower block
    keys (64/n_blocks bits) → denser buckets → a bigger candidate join.
    max_hamming >= 16 would need 4-bit keys (16 buckets/block — a
    near-cartesian) and is rejected; use MinHash banding for loose
    thresholds. An explicit ``n_blocks <= max_hamming`` override is also
    rejected rather than silently incomplete.

    Shared by text SimHash (`simhash_near_dups`) and media perceptual
    hashes (`multimodal.media_near_dups`) — one scale-proof blocking
    implementation, many signature sources.

    ``sigs`` feeds the block join and both signature re-joins, so it is
    materialized once by an eager localCheckpoint, as in
    :func:`minhash_candidates` (without it each branch re-runs the
    signature UDF over the corpus)."""
    if n_blocks is None:
        n_blocks = next(b for b in (2, 4, 8, 16) if b > max_hamming)
    if not (0 <= max_hamming < n_blocks <= 16):
        raise ValueError(
            f"banded Hamming blocking needs max_hamming < n_blocks <= 16 "
            f"for complete recall on 64-bit signatures; got "
            f"max_hamming={max_hamming}, n_blocks={n_blocks}"
        )
    sigs = sigs.localCheckpoint(eager=True).select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig")
    )
    width = 64 // n_blocks
    mask = (1 << width) - 1
    # block on (block, key, id) only; surviving pairs re-join the
    # signature once per side
    blocks = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftrightunsigned(F.col("sig"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.block", "bk.key")
    pairs = pair_counts(blocks, ["block", "key"], "id", ("id_a", "id_b")).select("id_a", "id_b")
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dups(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs via banded block blocking: with the default
    max_hamming=3 (the 64-bit near-dup threshold of Manku et al.,
    WWW'07) the signature splits into 4 × 16-bit blocks and any
    qualifying pair shares an exact block (pigeonhole, complete recall).
    Bucketed self-join — no cartesian product; looser thresholds widen
    n_blocks automatically (see `banded_hamming_pairs`)."""
    sigs = simhash_signatures(spark, sf_dir)
    return banded_hamming_pairs(sigs, "doc_id", "simhash", max_hamming).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def n1_repeated_ngrams(
    spark: SparkSession,
    sf_dir: str,
    n: int = 6,
    min_docs: int = 2,
    k: int = 50,
) -> DataFrame:
    """Cross-document repeated n-gram report (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the top-k
    word n-grams appearing in at least ``min_docs`` DISTINCT documents,
    with document frequency and total occurrence count — the memorization
    tripwire a pretraining pipeline runs to find boilerplate/template
    spans that exact-dedup (whole-doc hashing) cannot see.

    Plan shape: in-row n-gram construction (:func:`T.ngrams` — no
    array_distinct, occurrences count), one map-side-partial aggregate on
    the gram (count-distinct expands to the standard two-phase plan),
    then TakeOrderedAndProject for the top-k.
    The wide text column never rides a keyed shuffle; only (gram, doc_id)
    pairs do — the canonical n-gram-count shape at any scale (the
    RoundRobin respread of catalog.spread is the documented local
    small-file exception, a no-op at scale). Ties are broken
    (n_docs desc, n_occurrences desc, gram asc) so output is
    deterministic."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    g = docs.select("doc_id", F.explode(T.ngrams("text", n)).alias("gram"))
    return (
        g.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
    )


REPEATED_NGRAMS_SQL = """
WITH g AS (
  SELECT doc_id, unnest(gram_list) AS gram
  FROM (
    SELECT doc_id,
           list_transform(range(1, greatest(len(toks) - 5, 0) + 1),
                          i -> array_to_string(toks[i:i+5], ' ')) AS gram_list
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
)
SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM g
GROUP BY gram
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, gram
LIMIT 50
"""


def source_overlap_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source near-duplication matrix: the oracle-certified exact
    Jaccard pairs, labeled with each document's source and aggregated to
    (source_a <= source_b) cells — which sources copy from which. The
    curation read: heavy off-diagonal cells mean two "independent"
    sources share content (double-counting in the mixture weights);
    a heavy diagonal means a source needs dedup before it's weighed.

    Scale shape: the expensive part is the pair generation, already
    bounded by the hot-shingle guard; labeling is two keyed joins of the
    PAIRS (tiny relation) against (doc_id, source), and the matrix
    aggregate is |sources|²-sized. Cells order sources lexically
    (least/greatest) so the matrix is triangular regardless of which
    side of a pair a document landed on.
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    # label lookup only — no spread(): the projection feeds two keyed
    # joins that re-shuffle anyway, so a round-robin repartition of the
    # second documents scan is pure waste
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_OVERLAP_SQL = (
    "WITH pairs AS ("
    + NGRAM_JACCARD_SQL
    + """
), lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         p.jaccard
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
)
SELECT source_a, source_b, count(*) AS n_pairs,
       round(avg(jaccard), 6) AS avg_jaccard
FROM lab GROUP BY 1, 2 ORDER BY 1, 2
"""
)


def shingle_df_profile(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Shingle document-frequency profile: how many shingles live in each
    power-of-two df band, and what share of inverted-index postings they
    carry — the report that SIZES the hot-shingle guard
    (``ngram_jaccard_pairs``'s ``max_doc_freq``): the top band's postings
    share is exactly the self-join work the df-cut deletes.

    Exactness: df values are integer counts; the band is floor(log2(df))
    computed via exact binary STRING length (length(bin(df)) − 1), never
    float log2 — a power-of-two df on a log2 ulp boundary cannot
    misband. Shares are single divisions of exact integer window sums,
    rounded to 6 dp.

    Scale shape: one explode → (shingle, df) hash aggregate (the same
    shape the dedup index builds), then a ~60-row band table; window
    totals never re-read the index."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = _shingle_index(docs, n, max_doc_freq=None)
    dfs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    band = (F.length(F.bin(F.col("df"))) - 1).alias("df_band")
    per_band = dfs.groupBy(band).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("df").alias("postings"),
        F.max("df").alias("max_df"),
    )
    w_all = Window.partitionBy()
    return per_band.select(
        "df_band",
        (F.pow(F.lit(2.0), F.col("df_band"))).cast("long").alias("band_lo"),
        "n_shingles",
        "postings",
        "max_df",
        F.round(
            F.col("postings").cast("double") / F.sum("postings").over(w_all), 6
        ).alias("postings_share"),
    ).orderBy("df_band")


SHINGLE_DF_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
           )
         )) AS shingle
  FROM documents
), dfs AS (
  SELECT shingle, count(*) AS df FROM tok GROUP BY 1
), bands AS (
  SELECT length(printf('%b', df)) - 1 AS df_band,
         count(*) AS n_shingles, sum(df) AS postings, max(df) AS max_df
  FROM dfs GROUP BY 1
)
SELECT df_band,
       CAST(pow(2.0, df_band) AS BIGINT) AS band_lo,
       n_shingles,
       CAST(postings AS BIGINT) AS postings,
       CAST(max_df AS BIGINT) AS max_df,
       round(CAST(postings AS DOUBLE) / sum(postings) OVER (), 6)
         AS postings_share
FROM bands
ORDER BY df_band
"""


def novelty_curve(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Corpus novelty decay: docs in ingestion order (doc_id), each
    scored by the share of its distinct shingles FIRST seen in it, then
    averaged per doc-order decile — the curve that answers "how fast
    does new data stop being new", i.e. the marginal value of the next
    crawl batch before any dedup spend.

    Exactness: first-seer is an integer min(doc_id) per shingle (window
    over the inverted index); each doc's novelty ratio is one exact
    integer division rounded to 6 dp, and the per-decile average sums
    those ROUNDED ratios as fixed-point integers (order-independent).
    The decile cut is ntile over doc_id — total order, both engines.

    Scale shape: explode → shingle-partition window (min carries one
    bigint per shingle) → per-doc aggregate → decile window over the
    DOC table. Nothing quadratic; the shingle window is the same
    shuffle the dedup index pays. The decile ntile is a GLOBAL window
    over the per-doc table — doc-cardinality rows through one sort
    task (the order_value_decile_lift caveat): at corpus scale, bucket
    doc_id by range first and rank within buckets, or replace ntile
    with width_bucket over the known doc_id span."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = _shingle_index(docs, n, max_doc_freq=None)
    first = F.min("doc_id").over(Window.partitionBy("shingle"))
    per_doc = (
        sh.select("doc_id", (F.col("doc_id") == first).alias("_novel"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("_novel"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("novelty")
        )
    )
    decile = F.ntile(10).over(Window.orderBy("doc_id"))
    return (
        per_doc.select("novelty", decile.alias("doc_decile"))
        .groupBy("doc_decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.round(F.col("novelty") * 1000000, 0).cast("long"))
                / 1000000.0
                / F.count(F.lit(1)),
                6,
            ).alias("avg_novelty"),
        )
        .orderBy("doc_decile")
    )


NOVELTY_CURVE_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
           )
         )) AS shingle
  FROM documents
), marked AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY shingle) AS novel
  FROM tok
), per_doc AS (
  SELECT doc_id,
         round(CAST(sum(CASE WHEN novel THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 6) AS novelty
  FROM marked GROUP BY doc_id
), deciled AS (
  SELECT novelty, ntile(10) OVER (ORDER BY doc_id) AS doc_decile
  FROM per_doc
)
SELECT doc_decile, count(*) AS n_docs,
       round(sum(CAST(round(novelty * 1000000, 0) AS BIGINT)) / 1000000.0
             / count(*), 6) AS avg_novelty
FROM deciled
GROUP BY doc_decile
ORDER BY doc_decile
"""


def dup_group_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate group-size histogram in power-of-two bands: how
    much of the corpus sits in singletons vs 2-4-copy clusters vs viral
    blobs — the dedup-ROI report (sum of (size−1) over bands is exactly
    the row count exact dedup deletes), same integer binary-length
    banding as :func:`shingle_df_profile`.

    Scale shape: the exact-dedup hash aggregate (fingerprint → size),
    then a ~60-row band table with window shares."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    groups = (
        docs.select(fingerprint_md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    band = (F.length(F.bin(F.col("group_size"))) - 1).alias("size_band")
    per_band = groups.groupBy(band).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("group_size").alias("n_docs"),
        F.sum(F.col("group_size") - 1).alias("n_removable"),
    )
    w_all = Window.partitionBy()
    return per_band.select(
        "size_band",
        F.pow(F.lit(2.0), F.col("size_band")).cast("long").alias("band_lo"),
        "n_groups",
        "n_docs",
        "n_removable",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w_all), 6
        ).alias("doc_share"),
    ).orderBy("size_band")


DUP_SIZE_HISTOGRAM_SQL = """
WITH groups AS (
  SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
         count(*) AS group_size
  FROM documents GROUP BY 1
), bands AS (
  SELECT length(printf('%b', group_size)) - 1 AS size_band,
         count(*) AS n_groups,
         sum(group_size) AS n_docs,
         sum(group_size - 1) AS n_removable
  FROM groups GROUP BY 1
)
SELECT size_band,
       CAST(pow(2.0, size_band) AS BIGINT) AS band_lo,
       n_groups,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_removable AS BIGINT) AS n_removable,
       round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS doc_share
FROM bands
ORDER BY size_band
"""


def minhash_calibration(
    spark: SparkSession, sf_dir: str, n: int = 3, n_bins: int = 10
) -> DataFrame:
    """MinHash estimate-vs-exact calibration: for every LSH candidate
    pair, the signature-agreement estimate is compared against the TRUE
    shingle Jaccard, bucketed by estimated decile — the report that
    tells you whether the 64-perm signature is trustworthy on THIS
    corpus before you raise the dedup threshold on it (estimator std is
    √(j(1−j)/perms) ≈ 0.06 at j=0.5; a per-band |bias| well past that
    means shingle pathologies, not sampling noise).

    Per decile: n_pairs, mean estimated Jaccard, mean exact Jaccard,
    mean absolute error, and signed bias (est − exact). Means are
    6 dp fixed-point sums of already-6dp-rounded values (exact,
    order-independent).

    Rows-only (the estimate rides murmur3 signatures — no SQL oracle);
    certified by the wave-8 property tests against the exact
    ngram-Jaccard baseline.

    Scale shape: candidate pairs come from the banded LSH join (never
    all pairs); the exact Jaccard joins the (doc_id, shingle) inverted
    index onto the CANDIDATE pairs only — intersection counts via one
    (doc_b, shingle) hash join, set sizes via two broadcast-sized
    joins of the per-doc count relation. Nothing quadratic in the
    corpus; everything quadratic is bounded by the LSH candidate set."""
    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_candidates(docs, n=n).localCheckpoint(eager=True)
    sh = docs.select("doc_id", F.explode(shingles("text", n)).alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"), F.col("shingle").alias("shingle")
            ),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # size joins are LEFT with a 0 coalesce: a doc shorter than n words
    # has NO shingles and would otherwise vanish from the report, biasing
    # per-band stats vs the candidate set LSH actually produced — such a
    # pair keeps exact_jaccard 0 against any non-empty partner, and a
    # both-empty pair (n_union = 0, Jaccard undefined) stays excluded by
    # the guard below (ADVICE r8).
    j = (
        cands.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sz_a")),
            "doc_a",
            "left",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sz_b")),
            "doc_b",
            "left",
        )
        .select(
            "est_jaccard",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            (
                F.coalesce("sz_a", F.lit(0))
                + F.coalesce("sz_b", F.lit(0))
                - F.coalesce("n_inter", F.lit(0))
            ).alias("n_union"),
        )
        .filter(F.col("n_union") > 0)
        .select(
            "est_jaccard",
            F.round(F.col("n_inter").cast("double") / F.col("n_union"), 6).alias(
                "exact_jaccard"
            ),
        )
    )
    band = F.least(
        F.floor(F.col("est_jaccard") * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    fp = lambda c: F.round(c * 1000000, 0).cast("long")  # noqa: E731
    binned = j.select(
        band.alias("est_band"),
        fp(F.col("est_jaccard")).alias("_e"),
        fp(F.col("exact_jaccard")).alias("_x"),
        fp(F.abs(F.col("est_jaccard") - F.col("exact_jaccard"))).alias("_a"),
    )
    cnt = F.count(F.lit(1))
    return (
        binned.groupBy("est_band")
        .agg(
            cnt.alias("n_pairs"),
            F.round(F.sum("_e") / cnt / 1000000.0, 6).alias("mean_est"),
            F.round(F.sum("_x") / cnt / 1000000.0, 6).alias("mean_exact"),
            F.round(F.sum("_a") / cnt / 1000000.0, 6).alias("mean_abs_err"),
            F.round((F.sum("_e") - F.sum("_x")) / cnt / 1000000.0, 6).alias(
                "bias"
            ),
        )
        .orderBy("est_band")
    )


# default shared with DEDUP_RATE_BY_BATCH_SQL below — the oracle is
# derived from THIS constant (r9 review finding: a hard-coded '// 100'
# silently decouples from a changed Python default)
_DEDUP_RATE_BATCH_SIZE = 100


def _doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, fp) relation — THE normalized-text fingerprint
    every exact-dup operator keys on (`dedup_exact_groups`,
    `n1_dedup_rate_by_batch`, `n1_cross_source_dup_matrix`). One
    definition so the md5/normalization can never drift between the
    dedup report, the trend monitor, and the matrix."""
    return spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", fingerprint_md5("text").alias("fp")
    )


def _canonical_first(docs: DataFrame) -> DataFrame:
    """Per-fingerprint canonical pick: min doc_id corpus-wide and its
    source (min_by on the same unique key — deterministic). The single
    definition of 'which copy is the original' shared by the dup-trend
    and cross-source operators."""
    return docs.groupBy("fp").agg(
        F.min("doc_id").alias("canonical_id"),
        F.min_by("source", "doc_id").alias("canonical_source"),
    )


def n1_dedup_rate_by_batch(
    spark: SparkSession, sf_dir: str, batch_size: int = _DEDUP_RATE_BATCH_SIZE
) -> DataFrame:
    """Per-source duplicate-rate TREND over ingest batches — the
    monitoring view a crawl pipeline watches: a source whose dup rate
    climbs batch over batch has gone stale (re-crawling the same pages),
    long before the global dedup ratio moves. Batches are doc_id ranges
    (``doc_id div batch_size`` — integer floor division on BOTH engines,
    the r8 midpoint convention), the ingest-order stand-in the synthetic
    corpus provides.

    A doc is a duplicate iff an EARLIER doc (smaller doc_id, any source)
    carries the same normalized-text fingerprint — the same canonical-
    min rule as :func:`dedup_exact_groups`. Per (source, batch): doc and
    dup counts, the batch dup rate, and running cumulative counts/rate.

    Scale shape: one documents scan → fingerprint (map-side md5) → one
    hash agg for first-ids → one fp-keyed hash join back → hash agg on
    (source, batch). The cumulative window orders BATCHES within a
    source — the windowed relation is batches-sized (corpus/batch_size
    rows), never documents-sized. Zero-division impossible: every
    emitted group has n_docs ≥ 1."""
    docs = _doc_fingerprints(spark, sf_dir)
    first = _canonical_first(docs).select("fp", "canonical_id")
    flagged = docs.join(first, "fp").select(
        "source",
        F.expr(f"doc_id div {batch_size}").alias("ingest_batch"),
        (F.col("doc_id") > F.col("canonical_id")).cast("int").alias("_dup"),
    )
    per = flagged.groupBy("source", "ingest_batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_dup").alias("n_dups"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("ingest_batch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_docs = F.sum("n_docs").over(w)
    cum_dups = F.sum("n_dups").over(w)
    return per.select(
        "source",
        "ingest_batch",
        "n_docs",
        "n_dups",
        F.round(F.col("n_dups").cast("double") / F.col("n_docs"), 6).alias(
            "dup_rate"
        ),
        cum_docs.alias("cum_docs"),
        cum_dups.alias("cum_dups"),
        F.round(cum_dups.cast("double") / cum_docs, 6).alias("cum_dup_rate"),
    ).orderBy("source", "ingest_batch")


DEDUP_RATE_BY_BATCH_SQL = f"""
WITH f AS (
  SELECT doc_id, source,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), fir AS (
  SELECT fp, min(doc_id) AS first_id FROM f GROUP BY 1
), d AS (
  SELECT f.source, f.doc_id // {_DEDUP_RATE_BATCH_SIZE} AS ingest_batch,
         CASE WHEN f.doc_id > fir.first_id THEN 1 ELSE 0 END AS is_dup
  FROM f JOIN fir USING (fp)
), b AS (
  SELECT source, ingest_batch, count(*) AS n_docs,
         CAST(sum(is_dup) AS BIGINT) AS n_dups
  FROM d GROUP BY 1, 2
)
SELECT source, ingest_batch, n_docs, n_dups,
       round(CAST(n_dups AS DOUBLE) / n_docs, 6) AS dup_rate,
       CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
       CAST(sum(n_dups) OVER w AS BIGINT) AS cum_dups,
       round(CAST(sum(n_dups) OVER w AS DOUBLE) / sum(n_docs) OVER w, 6)
         AS cum_dup_rate
FROM b
WINDOW w AS (PARTITION BY source ORDER BY ingest_batch
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY source, ingest_batch
"""


def n1_cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplicate-mass matrix — who copies whom: for every
    duplicated doc, the (its source → canonical doc's source) edge,
    aggregated to a matrix of duplicate counts and the share of the
    duplicating source's corpus they represent. The diagonal is
    WITHIN-source duplication (re-crawls); off-diagonal mass is
    mirror/syndication content — the number that decides which source
    to drop from the mixture, since its tokens are already there.

    Canonical rule: min doc_id across the whole corpus (identical to
    :func:`dedup_exact_groups` / :func:`n1_dedup_rate_by_batch`), its
    source via min_by/arg_min on the same key — deterministic, doc_id
    unique.

    The FULL |sources|² grid is materialized (the categorical
    zero-cell rule): a clean corpus reports an explicit all-zeros
    matrix rather than an empty frame, so "no duplication" and "query
    broke" are distinguishable and trend diffs are row-stable.

    Scale shape: one scan → md5 fingerprint → one hash agg for
    (canonical id, canonical source) per fp → one fp-keyed hash join
    back → hash agg on the (|sources|² bounded) matrix; the source
    grid and per-source totals are broadcast-sized. Zero-division
    impossible: every grid source has ≥1 doc by construction."""
    docs = _doc_fingerprints(spark, sf_dir)
    first = _canonical_first(docs)
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    dups = (
        docs.join(first, "fp")
        .filter(F.col("doc_id") > F.col("canonical_id"))
        .select(F.col("source").alias("dup_source"), "canonical_source")
        .groupBy("dup_source", "canonical_source")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    srcs = totals.select("source")
    grid = srcs.select(F.col("source").alias("dup_source")).crossJoin(
        F.broadcast(srcs.select(F.col("source").alias("canonical_source")))
    )
    return (
        grid.join(F.broadcast(dups), ["dup_source", "canonical_source"], "left")
        .join(
            F.broadcast(totals.select(F.col("source").alias("dup_source"), "n_docs")),
            "dup_source",
        )
        .select(
            "dup_source",
            "canonical_source",
            F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
            F.round(
                F.coalesce("n_dups", F.lit(0)).cast("double") / F.col("n_docs"), 6
            ).alias("dup_share"),
        )
        .orderBy("dup_source", "canonical_source")
    )


CROSS_SOURCE_DUP_SQL = """
WITH f AS (
  SELECT doc_id, source,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), fir AS (
  SELECT fp, min(doc_id) AS canonical_id,
         arg_min(source, doc_id) AS canonical_source
  FROM f GROUP BY 1
), tot AS (
  SELECT source, count(*) AS n_docs FROM f GROUP BY 1
), d AS (
  SELECT f.source AS dup_source, fir.canonical_source, count(*) AS n_dups
  FROM f JOIN fir USING (fp)
  WHERE f.doc_id > fir.canonical_id
  GROUP BY 1, 2
), grid AS (
  SELECT a.source AS dup_source, b.source AS canonical_source
  FROM tot a CROSS JOIN tot b
)
SELECT g.dup_source, g.canonical_source,
       coalesce(d.n_dups, 0) AS n_dups,
       round(CAST(coalesce(d.n_dups, 0) AS DOUBLE) / t.n_docs, 6) AS dup_share
FROM grid g
LEFT JOIN d ON d.dup_source = g.dup_source
          AND d.canonical_source = g.canonical_source
JOIN tot t ON t.source = g.dup_source
ORDER BY g.dup_source, g.canonical_source
"""


def dedup_weighted_sample(
    df: DataFrame,
    key_col: str = "doc_id",
    content_col: str = "text",
    salt: str = "dws1",
) -> DataFrame:
    """Duplication-weighted sampling: keep each row with probability
    ceil(16⁶/group_size)/16⁶ ≈ 1/group_size (group = normalized-content
    fingerprint), so every duplicate GROUP survives with expectation 1
    up to the 16⁻⁶ threshold-resolution bias (the group expectation is
    gs·ceil(16⁶/gs)/16⁶ ≥ 1, high by at most gs/16⁶ — ADVICE r9) — the
    near-unbiased alternative to canonical-pick exact dedup when
    downstream statistics must not over-represent heavily-copied content
    but a deterministic min-id canonical would freeze WHICH copy always
    survives.

    The keep decision is a pure function of the row (md5 of the salted
    key) and its group size — reruns and backfills keep the same rows;
    change ``salt`` for an independent draw. The comparison is EXACT
    integer arithmetic: u·group_size < 16⁶ with u the digest's 6-hex-char
    value (u uniform on [0, 16⁶)), i.e. u < 16⁶/group_size without ever
    forming the fraction — no float thresholds, no engine rounding.
    Unique rows (group_size 1) always survive.

    Scale shape: one window shuffle on the fingerprint for group_size
    (the same Exchange exact dedup pays), then a map-side filter —
    nothing collects, nothing is quadratic."""
    from hadoop_stuff_spark.operators.sampling import _HEX_DIGITS, _hex_prefix_val

    fp = fingerprint_md5(content_col)
    gs = F.count(F.lit(1)).over(Window.partitionBy(fp))
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    u = _hex_prefix_val(h, _HEX_DIGITS)
    return (
        df.withColumn("_gs", gs)
        .filter(u * F.col("_gs") < F.lit(16**_HEX_DIGITS))
        .withColumnRenamed("_gs", "group_size")
    )


def n1_dedup_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: per-source kept counts + id-sum of the
    duplication-weighted sample (order-free exact summary of the kept
    SET), plus how many kept rows came from true dup groups."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    kept = dedup_weighted_sample(docs)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum((F.col("group_size") > 1).cast("long")).alias("n_from_dup_groups"),
        )
        .orderBy("source")
    )


def _dedup_weighted_sample_sql() -> str:
    from hadoop_stuff_spark.operators.sampling import _HEX_DIGITS, hex_prefix_sql

    hexv = hex_prefix_sql("dws1", _HEX_DIGITS)
    return f"""
WITH sized AS (
  SELECT doc_id, source,
         count(*) OVER (
           PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
         ) AS group_size
  FROM documents
), kept AS (
  SELECT * FROM sized WHERE ({hexv}) * group_size < {16**6}
)
SELECT source, count(*) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_from_dup_groups
FROM kept
GROUP BY source
ORDER BY source
"""


DEDUP_WEIGHTED_SAMPLE_SQL = _dedup_weighted_sample_sql()


def per_source_near_dup_rate(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Per-source NEAR-duplicate exposure: for every source, the share of
    its documents that have at least one n-gram-Jaccard near-duplicate
    partner ANYWHERE in the corpus (VERDICT r9 #7 — the near-dup twin of
    the exact :func:`n1_dedup_rate_by_batch`): exact dedup rates say how
    much is copied verbatim; this says which source's content is
    paraphrase-/boilerplate-duplicated, the number that decides which
    ingest feed gets the aggressive near-dedup pass.

    Pairs come from the ONE certified pair machinery
    (:func:`_pair_counts` via :func:`ngram_jaccard_pairs` — shingle
    width, df-cut and threshold-on-rounded-value semantics all live
    there); a doc counts as near-dup if it appears on either side of a
    qualifying pair. Every source is reported — zero-cell rule: sources
    with no near-dups carry an explicit 0, never a missing row (the
    length-PSI lesson).

    Scale shape: after the guarded pair join, the flagged-id set collapses
    to distinct doc_ids (ids only — text never reenters), one semi-join
    back to documents, and a |sources|-row aggregate joined to the
    |sources|-row totals."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(spark, sf_dir, n, threshold, max_doc_freq)
    return _per_source_rate_from_pairs(docs, pairs)


def _per_source_rate_from_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared tail of the exact and LSH per-source near-dup rates: pair
    sides → distinct flagged doc_ids → one semi-join back → full source
    grid with explicit zeros (the zero-cell rule) and the 6 dp rate. ONE
    definition so the grid/rounding semantics cannot drift between the
    twins (r10 review)."""
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    flagged = (
        docs.join(dup_ids, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_near_dup"))
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        totals.join(flagged, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_near_dup"), F.lit(0).cast("long")).alias(
                "n_near_dup"
            ),
            F.round(
                F.coalesce(F.col("n_near_dup"), F.lit(0).cast("long"))
                / F.col("n_docs").cast("double"),
                6,
            ).alias("near_dup_rate"),
        )
        .orderBy("source")
    )


PER_SOURCE_NEAR_DUP_SQL = (
    _SHINGLE_PAIRS_CTE
    + """
, pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.4
), dup_ids AS (
  SELECT doc_a AS doc_id FROM pairs
  UNION
  SELECT doc_b FROM pairs
), flagged AS (
  SELECT d.source, count(*) AS n_near_dup
  FROM documents d JOIN dup_ids u ON u.doc_id = d.doc_id
  GROUP BY 1
), totals AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
)
SELECT t.source, t.n_docs,
       COALESCE(f.n_near_dup, 0) AS n_near_dup,
       round(COALESCE(f.n_near_dup, 0) / CAST(t.n_docs AS DOUBLE), 6)
         AS near_dup_rate
FROM totals t LEFT JOIN flagged f ON f.source = t.source
ORDER BY t.source
"""
)


def _fp_token_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, fp, n_tok, canonical_id) — the ONE per-doc
    relation the token-mass dedup reports build on: the shared md5
    normalization (:func:`fingerprint_md5`), the explode-free
    size(split()) token count, and the corpus-wide canonical pick
    (:func:`_canonical_first`). One definition so the fingerprint/token
    conventions cannot drift between the yield report and the mixture
    shift (r10 review)."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        fingerprint_md5("text").alias("fp"),
        T.token_count("text").cast("long").alias("n_tok"),
    )
    first = _canonical_first(docs).select("fp", "canonical_id")
    return docs.join(first, "fp")


# SQL mirror of _fp_token_relation, shared verbatim by
# EFFECTIVE_TOKEN_YIELD_SQL and DEDUP_MIXTURE_SHIFT_SQL
_FP_TOKEN_CTES = """f AS (
  SELECT doc_id, source,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), fir AS (
  SELECT fp, min(doc_id) AS canonical_id FROM f GROUP BY 1
)"""


def n3_effective_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source EFFECTIVE token yield after exact dedup — the number a
    token-budget planner actually needs: raw token counts over-state a
    source exactly by its duplicated mass, so budgeting from raw counts
    (as :func:`sampling.n3_token_budget_epochs` does from `n_tokens`)
    over-allocates to stale, self-copying feeds. For each source: raw
    docs/tokens, the docs/tokens surviving canonical-pick exact dedup
    (corpus-wide min-doc_id rule — the ONE canonical convention of
    :func:`_canonical_first`), and the doc/token yield ratios.

    A source whose token_yield is far below its doc_yield duplicates its
    LONG documents preferentially — the pattern a doc-count dedup report
    hides and a token-budget allocator most needs to see.

    Exactness: token counts are exact integers (the explode-free
    size(split()) house convention shared with the token-budget
    allocator); yields are one double division of exact int64 operands,
    rounded 6 dp; a source whose every doc is a copy of another source's
    canonical reports an explicit 0 yield (conditional sums keep the
    group — no vanishing rows).

    Scale shape: one documents scan → map-side md5 fingerprint + token
    count → one fp hash agg for canonical ids → one fp join-back →
    |sources|-row aggregate. Text never shuffles (fp and n_tok only)."""
    j = _fp_token_relation(spark, sf_dir)
    canon = F.col("doc_id") == F.col("canonical_id")
    per = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum(canon.cast("long")).alias("n_canonical_docs"),
        F.sum(F.when(canon, F.col("n_tok")).otherwise(F.lit(0))).alias(
            "canonical_tokens"
        ),
    )
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_canonical_docs",
        "canonical_tokens",
        F.round(
            F.col("n_canonical_docs").cast("double") / F.col("n_docs"), 6
        ).alias("doc_yield"),
        F.round(
            F.col("canonical_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("token_yield"),
    ).orderBy("source")


EFFECTIVE_TOKEN_YIELD_SQL = f"""
WITH {_FP_TOKEN_CTES}
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_canonical_docs,
       CAST(sum(CASE WHEN doc_id = canonical_id THEN n_tok ELSE 0 END)
            AS BIGINT) AS canonical_tokens,
       round(CAST(sum(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS doc_yield,
       round(CAST(sum(CASE WHEN doc_id = canonical_id THEN n_tok ELSE 0 END)
                  AS DOUBLE) / sum(n_tok), 6) AS token_yield
FROM f JOIN fir USING (fp)
GROUP BY source
ORDER BY source
"""


def n3_dedup_aware_mixture_shift(
    spark: SparkSession, sf_dir: str, tau: float = _BUDGET_TAU
) -> DataFrame:
    """How much each source's temperature-τ mixture share MOVES when the
    token mass is counted after exact dedup instead of raw — the
    correction :func:`n3_effective_token_yield` implies and a budget
    planner should apply: a self-copying source inflates its raw token
    count and therefore its raw mixture share; recomputing the share
    over canonical tokens (corpus-wide min-doc_id rule,
    :func:`_canonical_first`) reallocates exactly that inflation to the
    cleaner sources. `share_shift` is the per-source delta (negative =
    the source was over-weighted by duplication).

    Exactness: token counts are exact int64 (the size(split()) house
    convention); both share chains are the mixture-table pow/sum
    expression (same τ as the certified allocator — imported, never a
    re-typed constant) whose libm/partial-agg ulps are erased by the
    6 dp output round; the shift is computed from the RAW doubles and
    rounded once.

    Scale shape: one documents scan → md5 fingerprint + token count
    map-side → one fp hash agg + join-back → |sources|-row aggregate;
    the two share windows run over the |sources|-row relation."""
    canon = F.col("doc_id") == F.col("canonical_id")
    per = (
        _fp_token_relation(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.when(canon, F.col("n_tok")).otherwise(F.lit(0))).alias(
                "canonical_tokens"
            ),
        )
    )
    w = Window.partitionBy()

    def _share(tokens):
        p = tokens.cast("double") / F.sum(tokens).over(w).cast("double")
        powed = F.pow(p, 1.0 / tau)
        return powed / F.sum(powed).over(w)

    raw_share = _share(F.col("n_tokens"))
    dedup_share = _share(F.col("canonical_tokens"))
    return per.select(
        "source",
        "n_tokens",
        "canonical_tokens",
        F.round(raw_share, 6).alias("raw_share"),
        F.round(dedup_share, 6).alias("dedup_share"),
        F.round(dedup_share - raw_share, 6).alias("share_shift"),
    ).orderBy("source")


def _dedup_mixture_sql() -> str:
    return f"""
WITH {_FP_TOKEN_CTES}, per AS (
  SELECT source,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN doc_id = canonical_id THEN n_tok ELSE 0 END)
              AS BIGINT) AS canonical_tokens
  FROM f JOIN fir USING (fp)
  GROUP BY source
), powed AS (
  SELECT source, n_tokens, canonical_tokens,
         pow(CAST(n_tokens AS DOUBLE)
             / CAST(sum(n_tokens) OVER () AS DOUBLE),
             1.0 / {_BUDGET_TAU}) AS pr,
         pow(CAST(canonical_tokens AS DOUBLE)
             / CAST(sum(canonical_tokens) OVER () AS DOUBLE),
             1.0 / {_BUDGET_TAU}) AS pd
  FROM per
)
SELECT source, n_tokens, canonical_tokens,
       round(pr / sum(pr) OVER (), 6) AS raw_share,
       round(pd / sum(pd) OVER (), 6) AS dedup_share,
       round(pd / sum(pd) OVER () - pr / sum(pr) OVER (), 6) AS share_shift
FROM powed
ORDER BY source
"""


DEDUP_MIXTURE_SHIFT_SQL = _dedup_mixture_sql()


def n3_dedup_aware_token_budget(
    spark: SparkSession,
    sf_dir: str,
    budget_tokens: int = _BUDGET_TOKENS,
    tau: float = _BUDGET_TAU,
    max_epochs: float = _BUDGET_MAX_EPOCHS,
) -> DataFrame:
    """The full token-budget allocator run over DEDUPLICATED token mass —
    the compose :func:`n3_dedup_aware_mixture_shift` implies: temperature-τ
    shares are recomputed over canonical tokens (corpus-wide min-doc_id
    rule, :func:`_canonical_first`), then the certified allocation stage of
    :func:`sampling.n3_token_budget_epochs` (floor of the milli-token-
    rounded product, epoch cap, clip-and-return) runs on those shares with
    epochs counted against the tokens a training run can actually draw
    WITHOUT re-reading duplicates. ``raw_allocated_tokens`` is what the
    raw-count allocator would have granted (same budget, same τ, shares
    over raw tokens), so ``budget_correction`` is the per-source token
    transfer that exact dedup forces — negative for self-copying sources.

    Note the epoch denominators differ by design: the raw allocator counts
    an epoch against raw tokens (re-reading duplicates "fills" budget),
    this one against canonical tokens — so a duplicate-heavy source hits
    the ``max_epochs`` cap SOONER here, and the cap returns the budget its
    duplication was hiding.

    Exactness across engines: token counts are exact int64 (the
    explode-free size(split()) house convention via
    :func:`_fp_token_relation`); both share chains are the mixture-table
    pow/sum expression with τ imported from the certified allocator;
    allocations floor the 3 dp-ROUNDED product (round erases partial-agg
    ulps BEFORE the floor; explicit floor(), never a bare cast — DuckDB
    rounds, Spark truncates); a source whose every doc is a copy of
    another source's canonical carries canonical_tokens = 0 and is guarded
    to 0 epochs / 0 drawn (no NULL-vs-NaN divergence); every reported
    ratio rounds to 6 dp.

    Scale shape: one documents scan → map-side md5 fingerprint + token
    count → one fp hash agg + join-back → |sources|-row aggregate; both
    share windows and all allocation arithmetic run on the |sources|-row
    relation. Text never shuffles (fp and n_tok only).

    Reference scope note: the reference engine (olegz/hadoop-stuff) has no
    budgeting surface; this extends the LLM-pipeline family
    (SURVEY.md §2.7 N3)."""
    canon = F.col("doc_id") == F.col("canonical_id")
    per = (
        _fp_token_relation(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.when(canon, F.col("n_tok")).otherwise(F.lit(0))).alias(
                "canonical_tokens"
            ),
        )
    )
    w = Window.partitionBy()

    def _share(tokens):
        p = tokens.cast("double") / F.sum(tokens).over(w).cast("double")
        powed = F.pow(p, 1.0 / tau)
        return powed / F.sum(powed).over(w)

    def _alloc(share):
        return F.floor(F.round(share * float(budget_tokens), 3)).cast("long")

    dedup_share = _share(F.col("canonical_tokens"))
    raw_share = _share(F.col("n_tokens"))
    staged = (
        per.withColumn("target_share", dedup_share)
        .withColumn("allocated_tokens", _alloc(dedup_share))
        .withColumn("raw_allocated_tokens", _alloc(raw_share))
        .withColumn(
            "epochs_raw",
            F.when(F.col("canonical_tokens") == 0, F.lit(0.0)).otherwise(
                F.col("allocated_tokens").cast("double")
                / F.col("canonical_tokens").cast("double")
            ),
        )
        .withColumn("clipped", F.col("epochs_raw") > F.lit(float(max_epochs)))
        .withColumn(
            "tokens_drawn",
            F.when(
                F.col("clipped"),
                F.floor(F.lit(float(max_epochs)) * F.col("canonical_tokens")).cast(
                    "long"
                ),
            ).otherwise(F.col("allocated_tokens")),
        )
    )
    return staged.select(
        "source",
        "n_tokens",
        "canonical_tokens",
        F.round("target_share", 6).alias("target_share"),
        "allocated_tokens",
        "raw_allocated_tokens",
        (F.col("allocated_tokens") - F.col("raw_allocated_tokens")).alias(
            "budget_correction"
        ),
        F.round(
            F.when(F.col("clipped"), F.lit(float(max_epochs))).otherwise(
                F.col("epochs_raw")
            ),
            6,
        ).alias("epochs"),
        "clipped",
        "tokens_drawn",
        F.round(
            F.col("tokens_drawn").cast("double")
            / F.sum("tokens_drawn").over(w).cast("double"),
            6,
        ).alias("realized_share"),
    ).orderBy("source")


DEDUP_TOKEN_BUDGET_SQL = f"""
WITH {_FP_TOKEN_CTES}, per AS (
  SELECT source,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN doc_id = canonical_id THEN n_tok ELSE 0 END)
              AS BIGINT) AS canonical_tokens
  FROM f JOIN fir USING (fp)
  GROUP BY source
), powed AS (
  SELECT source, n_tokens, canonical_tokens,
         pow(CAST(n_tokens AS DOUBLE)
             / CAST(sum(n_tokens) OVER () AS DOUBLE),
             1.0 / {_BUDGET_TAU}) AS pr,
         pow(CAST(canonical_tokens AS DOUBLE)
             / CAST(sum(canonical_tokens) OVER () AS DOUBLE),
             1.0 / {_BUDGET_TAU}) AS pd
  FROM per
), shares AS (
  SELECT source, n_tokens, canonical_tokens,
         pd / sum(pd) OVER () AS target_share,
         CAST(floor(round(pd / sum(pd) OVER ()
                          * {float(_BUDGET_TOKENS)}, 3)) AS BIGINT)
           AS allocated_tokens,
         CAST(floor(round(pr / sum(pr) OVER ()
                          * {float(_BUDGET_TOKENS)}, 3)) AS BIGINT)
           AS raw_allocated_tokens
  FROM powed
), staged AS (
  SELECT *,
         CASE WHEN canonical_tokens = 0 THEN 0.0
              ELSE allocated_tokens / CAST(canonical_tokens AS DOUBLE)
              END AS epochs_raw
  FROM shares
), capped AS (
  SELECT *,
         epochs_raw > {_BUDGET_MAX_EPOCHS} AS clipped,
         CASE WHEN epochs_raw > {_BUDGET_MAX_EPOCHS}
              THEN CAST(floor({_BUDGET_MAX_EPOCHS} * canonical_tokens)
                        AS BIGINT)
              ELSE allocated_tokens END AS tokens_drawn
  FROM staged
)
SELECT source, n_tokens, canonical_tokens,
       round(target_share, 6) AS target_share,
       allocated_tokens, raw_allocated_tokens,
       allocated_tokens - raw_allocated_tokens AS budget_correction,
       round(CASE WHEN clipped THEN {_BUDGET_MAX_EPOCHS} ELSE epochs_raw END, 6)
         AS epochs,
       clipped,
       tokens_drawn,
       round(CAST(tokens_drawn AS DOUBLE)
             / CAST(sum(tokens_drawn) OVER () AS DOUBLE), 6) AS realized_share
FROM capped
ORDER BY source
"""


def per_source_near_dup_rate_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """LSH-scale twin of :func:`per_source_near_dup_rate`: the same
    per-source near-dup exposure readout, but candidate pairs come from
    banded MinHash (signature collisions) instead of the exact
    inverted-index self-join — the path that survives when the corpus is
    too large for exact shingle-set pair enumeration. Candidates are
    verified at the stated Jaccard threshold on their MinHash estimate
    (matching :func:`minhash_near_dups` semantics), so the rate is the
    LSH recall-bounded ESTIMATE of the exact operator's rate —
    rows-only certified (signatures are xxhash64, not SQL-expressible),
    with the agreement-vs-exact bound pinned by test.

    Scale shape: signatures are one map-side pass; pairs form only
    through band-bucket collisions (ids-only explode); the flagged-id
    set collapses to distinct doc_ids before the one semi-join back."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = minhash_near_dups(spark, sf_dir, threshold=threshold)
    return _per_source_rate_from_pairs(docs, pairs)
