"""Mergeable HLL sketch tables — distinct-count rollups that never
rescan the fact table.

THE pattern for distinct counts at 100 TB: you cannot afford to re-scan
a year of events to answer "distinct users last quarter", and exact
distinct-count partials do not merge (a user active on two days would be
double-counted by summing daily exacts). HyperLogLog sketches DO merge:
build one small (<= ~1.5 KB at lgK=12) sketch per (day, event_type) cell
ONCE, persist them as a tiny sketch table, then answer any coarser
rollup — per day, per type, global, arbitrary date ranges — by unioning
sketch bytes. Spark 4 ships Apache DataSketches HLL natively
(`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`), JVM-side
and whole-stage-codegen friendly, so the fast path has zero Python.

Scale shape: the one fact scan does a partial `hll_sketch_agg` map-side
(each task emits one sketch per local cell — bytes, not user_ids — so
the shuffle carries |cells| x ~KB regardless of row count). Every
downstream rollup reads the sketch table: |cells| rows, seconds at any
scale, and the estimates are IDENTICAL to sketching the raw facts
directly (union of per-cell sketches == one big sketch, certified by
test).

Estimates are deterministic for fixed input (DataSketches is
seed-stable), but do not match DuckDB's approx_distinct algorithm —
so the registry entry is rows-only; pytest certifies <2% relative error
vs exact at sf0.01 and the union==direct identity.

Reference provenance: the reference has only exact streaming counters
(IngestTest.java:90-94 prints running totals); it has no distinct-count
story at all. This is the beyond-reference §2.7 scale analog.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table

LG_K = 12  # 4096 buckets, ~1.6% standard error


def build_user_sketches(events: DataFrame, lg_k: int = LG_K) -> DataFrame:
    """One HLL sketch of distinct user_ids per (event_date, event_type)
    cell. This is the expensive pass — one fact scan, partial sketches
    map-side — whose output (a few KB per cell) is what you persist."""
    return (
        events.select(
            F.to_date("ts").alias("event_date"),
            "event_type",
            "user_id",
        )
        .groupBy("event_date", "event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("user_sketch"))
    )


def rollup_distinct_users(sketches: DataFrame) -> DataFrame:
    """Distinct users per event_type across ALL days — a sketch-table
    union, no fact scan. Merging is `hll_union_agg` over the binary
    column; the result estimates the TRUE cross-day distinct (users
    active on many days count once)."""
    return (
        sketches.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("user_sketch", F.lit(True))
            ).alias("approx_distinct_users")
        )
        .orderBy("event_type")
    )


def distinct_users_between(
    sketches: DataFrame, start: str, end: str
) -> DataFrame:
    """Global distinct users in [start, end) — arbitrary date-range
    rollup from the same sketch table (the query that would otherwise
    rescan the range's raw events)."""
    return (
        sketches.filter(
            (F.col("event_date") >= F.lit(start)) & (F.col("event_date") < F.lit(end))
        )
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("user_sketch", F.lit(True))
            ).alias("approx_distinct_users")
        )
    )


def sketch_distinct_users_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Certification query: build the daily sketch table, roll it up per
    event_type. Rows-only oracle (HLL != DuckDB's approx algorithm);
    pytest pins <2% error vs exact and the union==direct identity."""
    events = load_table(spark, sf_dir, "events")
    return rollup_distinct_users(build_user_sketches(events))


# ---------------------------------------------------------------------------
# Theta sketch tables — distinct-count SET ALGEBRA without fact rescans
#
# HLL answers "how many distinct" for any UNION of cells; it cannot answer
# overlap questions ("users who did BOTH purchase AND click", "users active
# in week 1 but not week 2") because HLL has no intersection. DataSketches
# Theta sketches do: union / intersection / a-not-b all operate on the
# sketch bytes. Spark 4.1 ships them natively (theta_sketch_agg /
# theta_union(_agg) / theta_intersection(_agg) / theta_difference /
# theta_sketch_estimate) — JVM-side, mergeable, so the same
# build-once-roll-up-forever table pattern extends from counts to
# audience algebra. Below 2^lg_k distinct values a theta sketch is in
# exact mode, so small cells cost no accuracy at all.

THETA_LG_K = 14  # exact below ~16k distinct per cell; ~0.8% rse beyond


def build_user_theta_sketches(
    events: DataFrame, lg_k: int = THETA_LG_K
) -> DataFrame:
    """One theta sketch of distinct user_ids per (event_date, event_type)
    cell — same one-scan, map-side-partial shape as the HLL build; the
    persisted table additionally supports intersections/differences."""
    return (
        events.select(
            F.to_date("ts").alias("event_date"), "event_type", "user_id"
        )
        .groupBy("event_date", "event_type")
        .agg(F.theta_sketch_agg("user_id", F.lit(lg_k)).alias("user_theta"))
    )


def theta_distinct_users_by_type(sketches: DataFrame) -> DataFrame:
    """Distinct users per event_type across all days (theta-union rollup
    — the HLL rollup's twin, from the algebra-capable table)."""
    return (
        sketches.groupBy("event_type")
        .agg(
            F.theta_sketch_estimate(
                F.theta_union_agg("user_theta")
            ).alias("approx_distinct_users")
        )
        .orderBy("event_type")
    )


def theta_audience_overlap(
    sketches: DataFrame, type_a: str, type_b: str
) -> DataFrame:
    """The query HLL cannot answer from ANY table: audience overlap.
    Union each type's daily sketches into one per-type sketch via
    CONDITIONAL aggregation — one scan, one 1-row result, no join (a
    two-branch filter + crossJoin would re-evaluate the upstream sketch
    build once per branch: two fact scans when composed over raw
    events) — then estimate |A|, |B|, |A ∩ B|, |A ∪ B|, |A \\ B|,
    |B \\ A| by pure sketch algebra. Jaccard falls out."""
    both = sketches.agg(
        F.theta_union_agg(
            F.when(F.col("event_type") == type_a, F.col("user_theta"))
        ).alias("sa"),
        F.theta_union_agg(
            F.when(F.col("event_type") == type_b, F.col("user_theta"))
        ).alias("sb"),
    )
    est = F.theta_sketch_estimate
    return both.select(
        F.lit(type_a).alias("type_a"),
        F.lit(type_b).alias("type_b"),
        est(F.col("sa")).alias("n_a"),
        est(F.col("sb")).alias("n_b"),
        est(F.theta_intersection("sa", "sb")).alias("n_both"),
        est(F.theta_union("sa", "sb")).alias("n_either"),
        est(F.theta_difference("sa", "sb")).alias("n_only_a"),
        est(F.theta_difference("sb", "sa")).alias("n_only_b"),
        (
            est(F.theta_intersection("sa", "sb"))
            / est(F.theta_union("sa", "sb"))
        ).alias("jaccard"),
    )


def theta_retention(
    sketches: DataFrame, date_a: str, date_b: str
) -> DataFrame:
    """Day-over-day retention from the sketch table: users active on
    date_a who returned on date_b (intersection) and who churned
    (difference) — the cohort question a 100 TB events table answers
    daily, here at |cells|-row cost."""
    day = lambda d: F.col("event_date") == F.lit(d).cast("date")  # noqa: E731
    both = sketches.agg(
        F.theta_union_agg(F.when(day(date_a), F.col("user_theta"))).alias("sa"),
        F.theta_union_agg(F.when(day(date_b), F.col("user_theta"))).alias("sb"),
    )
    est = F.theta_sketch_estimate
    return both.select(
        F.lit(date_a).alias("date_a"),
        F.lit(date_b).alias("date_b"),
        est(F.col("sa")).alias("n_day_a"),
        est(F.theta_intersection("sa", "sb")).alias("n_retained"),
        est(F.theta_difference("sa", "sb")).alias("n_churned"),
    )


def theta_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification query: purchase-vs-click audience algebra from the
    daily theta table. Rows-only (DataSketches != DuckDB's algorithm);
    pytest pins every estimate against exact set algebra at sf0.01."""
    events = load_table(spark, sf_dir, "events")
    return theta_audience_overlap(
        build_user_theta_sketches(events), "purchase", "click"
    )


# ---------------------------------------------------------------------------
# KLL quantile sketch tables — mergeable percentiles without fact rescans
#
# Exact percentiles do not merge (the p95 of two partitions' p95s is not
# the global p95), so a percentile dashboard over raw facts rescans
# history per query. KLL sketches merge with proven rank-error bounds:
# build one small sketch per cell once, then any rollup's quantiles come
# from merging |cells| sketches. Spark 4.1 ships DataSketches KLL
# (kll_sketch_agg_* / kll_sketch_merge_* / kll_sketch_get_quantile_*).
# The merge function is pairwise, so cross-cell rollups fold the
# collected sketch array with the aggregate() HOF — the array holds
# |cells-per-group| sketch blobs (bounded by the calendar, not the data).

KLL_K = 200  # ~1.65% worst-case rank error


def build_value_kll_sketches(events: DataFrame, k: int = KLL_K) -> DataFrame:
    """One KLL sketch of `value` per (event_date, event_type) cell — one
    fact scan, map-side partials, a few KB per cell persisted."""
    return (
        events.select(
            F.to_date("ts").alias("event_date"),
            "event_type",
            F.col("value").cast("double").alias("value"),
        )
        .groupBy("event_date", "event_type")
        .agg(F.kll_sketch_agg_double("value", F.lit(k)).alias("value_kll"))
    )


def _kll_fold(col):
    """Fold an array of KLL sketch blobs into one via pairwise merge.

    Seeds with ``try_element_at`` so an EMPTY array (a when()-gated
    collect_list where no row matched the gate — e.g. an event_type
    with data on only one side of a drift split) folds to NULL instead
    of raising INVALID_ARRAY_INDEX_IN_ELEMENT_AT under Spark 4's
    default ANSI mode; callers filter the NULLs."""
    arr = F.collect_list(col)
    return F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.try_element_at(arr, F.lit(1)),
        lambda acc, s: F.kll_sketch_merge_double(acc, s),
    )


def kll_quantiles_by_type(
    sketches: DataFrame, probs: list[float] = (0.5, 0.95, 0.99)
) -> DataFrame:
    """Per-type value quantiles across ALL days from the sketch table —
    the percentile dashboard that never rescans facts. Estimates carry
    KLL's rank-error guarantee (~1.65% at k=200): the returned p95 is an
    actual data value whose true rank is within eps of 0.95."""
    merged = sketches.groupBy("event_type").agg(
        _kll_fold("value_kll").alias("s")
    )
    cols = [
        F.kll_sketch_get_quantile_double("s", F.lit(float(p))).alias(
            f"p{int(p * 100)}"
        )
        for p in probs
    ]
    return merged.select("event_type", *cols).orderBy("event_type")


def kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification query: daily KLL table → per-type p50/p95/p99.
    Rows-only; pytest pins each estimate's TRUE rank within the sketch's
    error bound against exact order statistics at sf0.01."""
    events = load_table(spark, sf_dir, "events")
    return kll_quantiles_by_type(build_value_kll_sketches(events))


# ---------------------------------------------------------------------------
# Count-min sketch tables — point FREQUENCY estimates without fact rescans
#
# The third leg of the sketch family: HLL/theta answer "how many
# distinct", KLL answers "what value sits at rank p", CMS answers "how
# often did key X occur" — with a one-sided guarantee (never under,
# over by at most eps * N at the chosen confidence). Spark ships the
# mergeable aggregate natively (`count_min_sketch`, JVM-side, map-side
# partials); the ESTIMATE/MERGE side has no SQL function, so queries
# deserialize the (bounded, ~100 KB x |cells|) sketch blobs driver-side
# through the same JVM class that wrote them
# (org.apache.spark.util.sketch.CountMinSketch) — a control-plane read
# of |cells| rows, never a fact scan.

CMS_EPS = 1e-3         # additive error bound: eps * total updates
CMS_CONFIDENCE = 0.99
CMS_SEED = 42          # all sketches that may merge MUST share the seed


def build_user_cms(
    events: DataFrame,
    eps: float = CMS_EPS,
    confidence: float = CMS_CONFIDENCE,
) -> DataFrame:
    """One CMS of user_id occurrences per event_date cell — one fact
    scan, map-side partials; persist the result and answer per-user
    activity counts for any date range forever after."""
    return (
        events.select(F.to_date("ts").alias("event_date"), "user_id")
        .groupBy("event_date")
        .agg(
            F.count_min_sketch(
                "user_id", F.lit(eps), F.lit(confidence), F.lit(CMS_SEED)
            ).alias("user_cms")
        )
    )


def _cms_from_bytes(spark: SparkSession, blob: bytes):
    jvm = spark._jvm
    return jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(blob))
    )


def cms_point_estimates(
    spark: SparkSession,
    sketches: DataFrame,
    items: list[int],
    start: str | None = None,
    end: str | None = None,
) -> dict[int, int]:
    """Estimated occurrence count per item over [start, end) (or all
    cells): merge the range's sketch blobs driver-side (|cells| blobs of
    ~eps-determined size — control plane), then O(1) point lookups.
    Estimates are >= the true count and <= true + eps * N with the
    sketch's confidence."""
    sel = sketches
    if start is not None:
        sel = sel.filter(F.col("event_date") >= F.lit(start))
    if end is not None:
        sel = sel.filter(F.col("event_date") < F.lit(end))
    blobs = [r.user_cms for r in sel.select("user_cms").collect()]
    if not blobs:
        return {int(i): 0 for i in items}
    merged = _cms_from_bytes(spark, blobs[0])
    for b in blobs[1:]:
        merged.mergeInPlace(_cms_from_bytes(spark, b))
    return {int(i): int(merged.estimateCount(int(i))) for i in items}


# -- executor-side CMS estimation -------------------------------------------
#
# `cms_point_estimates` answers a handful of dashboard probes driver-side
# through the JVM class. Joining estimates against a FRAME of keys (score
# every row by its key's historical frequency) must not loop the driver,
# so the estimator below reimplements the sketch READ path in vectorized
# numpy. The binary layout and hash were verified bit-exact against the
# JVM writer (test_sketches.py::test_cms_vectorized_estimates_match_jvm):
#
#   int32 version(1) | int64 totalCount | int32 depth | int32 width |
#   int64 hashA[depth] | int64 table[depth][width]      (all big-endian)
#   bucket_i(item) = ((hashA[i]*item + ((hashA[i]*item) >> 32)) & (2^31-1)) % width
#
# Merging = elementwise table addition, valid because every sketch the
# engine builds shares CMS_SEED (same hashA family). The merged table
# (depth x width longs, ~eps-determined size) ships to executors in the
# UDF closure — KBs, not data.


def _parse_cms_blob(blob: bytes):
    import struct as _struct

    import numpy as np

    version, total = _struct.unpack_from(">iq", blob, 0)
    if version != 1:
        raise ValueError(f"unsupported CountMinSketch version {version}")
    depth, width = _struct.unpack_from(">ii", blob, 12)
    hash_a = np.frombuffer(blob, dtype=">i8", count=depth, offset=20).astype(
        np.uint64
    )
    table = (
        np.frombuffer(
            blob, dtype=">i8", count=depth * width, offset=20 + depth * 8
        )
        .reshape(depth, width)
        .astype(np.int64)
    )
    return total, hash_a, table


def _merged_cms_arrays(spark: SparkSession, sketches: DataFrame,
                       start: str | None = None, end: str | None = None):
    sel = sketches
    if start is not None:
        sel = sel.filter(F.col("event_date") >= F.lit(start))
    if end is not None:
        sel = sel.filter(F.col("event_date") < F.lit(end))
    blobs = [bytes(r.user_cms) for r in sel.select("user_cms").collect()]
    if not blobs:
        return None
    total, hash_a, table = _parse_cms_blob(blobs[0])
    for b in blobs[1:]:
        t2, a2, tb2 = _parse_cms_blob(b)
        import numpy as np

        if not np.array_equal(a2, hash_a) or tb2.shape != table.shape:
            raise ValueError(
                "cannot merge CMS sketches with different hash families "
                "(eps/confidence/seed must match across builds)"
            )
        total += t2
        table = table + tb2
    return total, hash_a, table


def with_frequency_estimates(
    spark: SparkSession,
    sketches: DataFrame,
    probes: DataFrame,
    key_col: str,
    out_col: str = "est_count",
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """Add a CMS frequency-estimate column to ``probes`` — fully
    executor-side: the merged table rides the closure, each Arrow batch
    of keys is estimated in O(depth) vectorized numpy ops. Scales to
    billions of probe rows with zero driver involvement per row."""
    from pyspark.sql.functions import pandas_udf

    merged = _merged_cms_arrays(spark, sketches, start=start, end=end)
    if merged is None:
        return probes.withColumn(out_col, F.lit(0).cast("long"))
    _, hash_a, table = merged
    width = table.shape[1]
    prime = (1 << 31) - 1

    @pandas_udf("long")
    def estimate(keys: pd.Series, isnull: pd.Series) -> pd.Series:
        import numpy as np

        # `keys` is NULL-free by construction (coalesced Catalyst-side —
        # see below), so Arrow hands us a true int64 Series: no float64
        # round-trip, and |key| > 2^53 keeps exact bits (ADVICE r5 #1).
        null_mask = isnull.to_numpy(dtype=bool)
        items = keys.to_numpy(dtype=np.int64).view(np.uint64)
        mins = None
        for i in range(table.shape[0]):
            h = hash_a[i] * items                      # uint64 modular
            h = (h + (h >> np.uint64(32))) & np.uint64(prime)
            vals = table[i][(h % np.uint64(width)).astype(np.int64)]
            mins = vals if mins is None else np.minimum(mins, vals)
        mins = np.where(null_mask, 0, mins)
        return pd.Series(mins)

    # NULL keys estimate to 0 (matching the string-key variant). The
    # is-null flag and a coalesced key travel as separate NULL-free
    # columns: a batch with NULLs would otherwise reach pandas as
    # float64, silently corrupting keys beyond 2^53.
    key = F.col(key_col).cast("long")
    return probes.withColumn(
        out_col, estimate(F.coalesce(key, F.lit(0).cast("long")), key.isNull())
    )


# ---------------------------------------------------------------------------
# corpus-overlap estimation — theta sketches at DOCUMENT grain


def corpus_overlap(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
    lg_k: int = THETA_LG_K,
) -> DataFrame:
    """Estimate content overlap between two corpora WITHOUT a join: one
    theta sketch per corpus over the normalized-content fingerprint
    (functions/text.fingerprint_md5 — the exact-dedup key), then sketch
    algebra gives |A|, |B|, shared, unique-to-each and Jaccard. This is
    the dedup-planning question ("is it worth cross-deduplicating these
    two crawls?") answered with two single scans and KBs of state —
    where the exact answer is a fingerprint join of both corpora.
    Below 2^lg_k distinct documents per corpus the estimates are exact."""
    from hadoop_stuff_spark.functions.text import fingerprint_md5

    def sk(df: DataFrame):
        return df.agg(
            F.theta_sketch_agg(
                fingerprint_md5(text_col), F.lit(lg_k)
            ).alias("s")
        )

    a = sk(corpus_a).select(F.col("s").alias("sa"))
    b = sk(corpus_b).select(F.col("s").alias("sb"))
    est = F.theta_sketch_estimate
    # 1x1 scalar-shape join of two single-row aggregates (each corpus
    # scanned exactly once; nothing re-evaluates across branches because
    # the inputs are distinct frames)
    return a.crossJoin(b).select(
        est(F.col("sa")).alias("n_docs_a"),
        est(F.col("sb")).alias("n_docs_b"),
        est(F.theta_intersection("sa", "sb")).alias("n_shared"),
        est(F.theta_difference("sa", "sb")).alias("n_only_a"),
        est(F.theta_difference("sb", "sa")).alias("n_only_b"),
        (
            est(F.theta_intersection("sa", "sb"))
            / est(F.theta_union("sa", "sb"))
        ).alias("jaccard"),
    )


# -- string keys ------------------------------------------------------------
#
# Spark's CMS hashes string items with double hashing over Murmur3_x86_32
# of the utf-8 bytes (signed tail bytes): h1 = murmur3(data, 0),
# h2 = murmur3(data, h1), bucket_i = abs((h1 + i*h2) % width) in Java
# int/mod semantics. Verified bucket-exact against the JVM's private
# getHashBuckets via reflection (test_sketches.py).
#
# Vectorization (VERDICT r4 #3 / r5 #2): variable-length keys preclude one
# fixed-width matrix, but keys GROUPED BY BYTE LENGTH don't — each length
# class packs into an (n_keys, L) uint8 matrix over which murmur3 runs as
# L/4 + L%4 numpy rounds vectorized across ALL keys of that length at
# once. Real key populations (user ids, tokens, SKUs) cluster into a
# handful of length classes, so the per-batch cost is O(distinct_lengths ×
# max_len) numpy ops instead of O(n_keys × len) interpreted Python. The
# scalar `_string_buckets` below is kept as the JVM-verified reference;
# `test_sketches.py` pins the vectorized path equal to it (and to the JVM)
# on multi-byte utf-8, empty, and long strings.


def _murmur3_32(data: bytes, seed: int) -> int:
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    nblocks = n // 4
    for i in range(nblocks):
        k = int.from_bytes(data[i * 4 : (i + 1) * 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    for i in range(nblocks * 4, n):
        k = data[i]
        if k >= 128:  # java bytes are signed
            k -= 256
        k &= 0xFFFFFFFF
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _to_i32(x: int) -> int:
    x &= 0xFFFFFFFF
    return x - (1 << 32) if x >= (1 << 31) else x


def _string_buckets(s: str, depth: int, width: int) -> list[int]:
    data = s.encode("utf-8")
    h1 = _to_i32(_murmur3_32(data, 0))
    h2 = _to_i32(_murmur3_32(data, h1))
    out = []
    for i in range(depth):
        c = _to_i32(h1 + i * h2)
        r = abs(c) % width  # == abs(java c % width): java mod keeps sign
        out.append(r)
    return out


def _murmur3_32_np(mat, seeds):
    """Murmur3_x86_32 vectorized across keys: ``mat`` is an (n_keys, L)
    uint8 matrix (all keys share byte length L), ``seeds`` an (n_keys,)
    uint32 vector. Bit-for-bit the same algorithm as `_murmur3_32`
    (incl. Java signed tail bytes), one numpy round per block/tail byte."""
    import numpy as np

    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    h = seeds.astype(np.uint32, copy=True)
    L = mat.shape[1]
    u = mat.astype(np.uint32)

    def mix(k):
        nonlocal h
        k = k * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h ^= k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)

    for i in range(L // 4):
        mix(
            u[:, 4 * i]
            | (u[:, 4 * i + 1] << np.uint32(8))
            | (u[:, 4 * i + 2] << np.uint32(16))
            | (u[:, 4 * i + 3] << np.uint32(24))
        )
    for i in range((L // 4) * 4, L):
        # java bytes are signed: sign-extend each tail byte to int32
        mix(mat[:, i].astype(np.int8).astype(np.int32).view(np.uint32))
    h ^= np.uint32(L)
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def _length_class_double_hashes(byts):
    """Shared core of the vectorized string hashers: group an object
    array of ``bytes`` by byte length, pack each class into a
    fixed-width uint8 matrix, and murmur3 double-hash the whole class at
    once. Yields (idx, h1, h2) per class — idx the positions of that
    class's keys, h1/h2 the uint32 hash vectors."""
    import numpy as np

    n = len(byts)
    lens = np.fromiter((len(b) for b in byts), dtype=np.int64, count=n)
    for L in np.unique(lens):
        idx = np.nonzero(lens == L)[0]
        if L == 0:
            mat = np.zeros((len(idx), 0), dtype=np.uint8)
        else:
            buf = b"".join(byts[i] for i in idx)
            mat = np.frombuffer(buf, dtype=np.uint8).reshape(len(idx), int(L))
        h1 = _murmur3_32_np(mat, np.zeros(len(idx), dtype=np.uint32))
        h2 = _murmur3_32_np(mat, h1)
        yield idx, h1, h2


def murmur3_64_np(byts):
    """64-bit hash of an object array of ``bytes``, numpy-vectorized per
    byte-length class: h64 = (murmur3_32(b, 0) << 32) | murmur3_32(b, h1)
    — the same double-hash construction the CMS string path uses,
    concatenated. Used as the MinHash base hash, where the previous
    per-shingle hashlib.md5 call was the last interpreted inner loop on
    the signature path. Returns (n,) uint64."""
    import numpy as np

    out = np.empty(len(byts), dtype=np.uint64)
    for idx, h1, h2 in _length_class_double_hashes(byts):
        out[idx] = (h1.astype(np.uint64) << np.uint64(32)) | h2.astype(np.uint64)
    return out


def _string_buckets_np(byts, depth: int, width: int):
    """Vectorized `_string_buckets` over an object array of utf-8 ``bytes``
    (length-class packing via `_length_class_double_hashes`). Returns
    (n, depth) int64."""
    import numpy as np

    out = np.empty((len(byts), depth), dtype=np.int64)
    for idx, h1, h2 in _length_class_double_hashes(byts):
        # widen to int64 so |INT_MIN| and i*h2 never overflow; the
        # & 0xFFFFFFFF + re-sign reproduces Java int wraparound exactly
        h1s = h1.view(np.int32).astype(np.int64)
        h2s = h2.view(np.int32).astype(np.int64)
        for i in range(depth):
            c = (h1s + i * h2s) & 0xFFFFFFFF
            c = np.where(c >= (1 << 31), c - (1 << 32), c)
            out[idx, i] = np.abs(c) % width
    return out


def with_string_frequency_estimates(
    spark: SparkSession,
    sketches: DataFrame,
    probes: DataFrame,
    key_col: str,
    out_col: str = "est_count",
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """`with_frequency_estimates` for STRING keys (CMS tables built over
    a string column) — same merged-table-in-closure design; bucket
    computation is numpy-vectorized per byte-length class (see the
    module comment above), so billions of probes never touch an
    interpreted per-key loop."""
    from pyspark.sql.functions import pandas_udf

    merged = _merged_cms_arrays(spark, sketches, start=start, end=end)
    if merged is None:
        return probes.withColumn(out_col, F.lit(0).cast("long"))
    _, _hash_a, table = merged
    depth, width = table.shape

    @pandas_udf("long")
    def estimate(keys: pd.Series) -> pd.Series:
        import numpy as np

        null_mask = keys.isna().to_numpy()
        byts = (
            keys.fillna("").astype(str).str.encode("utf-8").to_numpy(dtype=object)
        )
        bk = _string_buckets_np(byts, depth, width)
        mins = table[0][bk[:, 0]]
        for i in range(1, depth):
            mins = np.minimum(mins, table[i][bk[:, i]])
        mins = np.where(null_mask, 0, mins)
        return pd.Series(mins.astype(np.int64))

    return probes.withColumn(out_col, estimate(F.col(key_col)))


# -- distribution drift from KLL sketch tables ------------------------------


def kll_drift_by_type(
    sketches: DataFrame,
    split_date: str,
    n_probes: int = 99,
) -> DataFrame:
    """Kolmogorov-Smirnov drift statistic per event_type between the
    value distributions BEFORE and FROM ``split_date`` — computed
    entirely from the persisted KLL sketch table, zero fact rescans:

    1. fold each side's cell sketches per type with a when()-gated
       collect_list (nulls drop out → BOTH sides from ONE aggregation);
    2. build a shared probe grid: ``n_probes`` evenly-spaced quantile
       VALUES of the globally-folded sketch (one |cells|-row agg, one
       1-row control-plane collect — Spark's kll probe arguments must be
       foldable literals, so the grid has to exist driver-side);
    3. per type, KS ≈ max over the grid of |rank_before(v) -
       rank_after(v)| — all literal-arg JVM sketch calls, one row out
       per type.

    The estimate carries each sketch's rank error (~1.65% at k=200)
    plus grid resolution (~1/n_probes); drift monitors alert on far
    larger gaps. Types whose support is a narrow slice of the global
    range get proportionally fewer effective probes — raise n_probes
    (cost is linear, driver-side KBs) when monitoring such mixes."""
    split = F.lit(split_date).cast("date")
    before = F.when(F.col("event_date") < split, F.col("value_kll"))
    after = F.when(F.col("event_date") >= split, F.col("value_kll"))

    # nulls (other side's rows) drop out of collect_list; one-sided
    # types fold to NULL (try_element_at seed) and are filtered below
    merged = sketches.groupBy("event_type").agg(
        _kll_fold(before).alias("sa"), _kll_fold(after).alias("sb")
    )
    global_sk = sketches.agg(_kll_fold(F.col("value_kll")).alias("sg"))
    grid_row = global_sk.select(
        *[
            F.kll_sketch_get_quantile_double(
                "sg", F.lit((j + 1) / (n_probes + 1))
            ).alias(f"q{j}")
            for j in range(n_probes)
        ]
    ).collect()[0]
    grid = sorted(set(float(v) for v in grid_row))

    gaps = [
        F.abs(
            F.kll_sketch_get_rank_double("sa", F.lit(v))
            - F.kll_sketch_get_rank_double("sb", F.lit(v))
        )
        for v in grid
    ]
    ks = gaps[0] if len(gaps) == 1 else F.greatest(*gaps)
    return (
        merged.filter(F.col("sa").isNotNull() & F.col("sb").isNotNull())
        .select("event_type", ks.alias("ks_distance"))
        .orderBy("event_type")
    )


def kll_psi_by_type(
    sketches: DataFrame,
    split_date: str,
    n_bins: int = 10,
    eps: float = 1e-4,
) -> DataFrame:
    """Population Stability Index per event_type between before/after
    ``split_date`` — KS's companion statistic (KS sees the worst single
    CDF gap; PSI integrates shift over the whole distribution; industry
    rule-of-thumb: <0.1 stable, 0.1-0.25 moderate, >0.25 major shift).
    Same machinery as `kll_drift_by_type`: one when()-gated fold of the
    sketch table, bin edges from the global sketch's quantiles (foldable
    literals), per-bin mass = rank(hi) - rank(lo) from each side's
    sketch, PSI = Σ (p_a - p_b)·ln(p_a / p_b) with ``eps`` flooring so
    empty bins don't blow up the log. Zero fact rescans."""
    split = F.lit(split_date).cast("date")
    before = F.when(F.col("event_date") < split, F.col("value_kll"))
    after = F.when(F.col("event_date") >= split, F.col("value_kll"))

    merged = sketches.groupBy("event_type").agg(
        _kll_fold(before).alias("sa"), _kll_fold(after).alias("sb")
    )
    global_sk = sketches.agg(_kll_fold(F.col("value_kll")).alias("sg"))
    edges_row = global_sk.select(
        *[
            F.kll_sketch_get_quantile_double("sg", F.lit(j / n_bins)).alias(f"e{j}")
            for j in range(1, n_bins)
        ]
    ).collect()[0]
    inner = sorted(set(float(v) for v in edges_row))

    def mass(sk_col, lo, hi):
        lo_rank = (
            F.lit(0.0) if lo is None
            else F.kll_sketch_get_rank_double(sk_col, F.lit(lo))
        )
        hi_rank = (
            F.lit(1.0) if hi is None
            else F.kll_sketch_get_rank_double(sk_col, F.lit(hi))
        )
        return F.greatest(hi_rank - lo_rank, F.lit(eps))

    bounds = [None] + inner + [None]
    terms = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        pa, pb = mass("sa", lo, hi), mass("sb", lo, hi)
        terms.append((pa - pb) * F.log(pa / pb))
    psi = terms[0]
    for t in terms[1:]:
        psi = psi + t
    return (
        merged.filter(F.col("sa").isNotNull() & F.col("sb").isNotNull())
        .select("event_type", psi.alias("psi"))
        .orderBy("event_type")
    )
