"""Incremental deduplication against a persisted corpus store.

Batch dedup (operators/dedup.py) answers "which docs in THIS corpus are
duplicates of each other"; a production ingest needs the day-2 question:
"which of today's documents are new vs everything already ingested" —
without rescanning the historical corpus text.

Two stores, both plain parquet written once and appended per batch:

- **fingerprint store** (exact dedup): one row per distinct normalized-text
  md5. New batch anti-joins it — one shuffle on a 16-byte key (or a
  broadcast when today's batch is small relative to history: Spark picks).
- **signature store** (near dedup): one row per (band, bucket, doc_id,
  sig) from the MinHash banding, partitioned by ``band`` on disk. Probing
  joins new docs' banded buckets against the store — partition pruning
  keeps the read to the probed bands, the join key is (band, bucket), and
  text never leaves the batch.

Both probes are pure joins: no driver loops, no store rewrite on read;
``update_*`` appends only the NEW batch's rows (history is immutable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_stuff_spark.functions.text import fingerprint_md5
from hadoop_stuff_spark.operators.dedup import (
    MINHASH_PERMS,
    minhash_bands,
    minhash_signature,
)

# ---------------------------------------------------------------------------
# exact: fingerprint store


def build_fingerprint_store(docs: DataFrame, path: str, text_col: str = "text") -> None:
    docs.select(fingerprint_md5(text_col).alias("fp")).distinct().write.mode(
        "overwrite"
    ).parquet(path)


def novel_against_fingerprints(
    spark: SparkSession, new_docs: DataFrame, path: str, text_col: str = "text"
) -> DataFrame:
    """Rows of ``new_docs`` whose content is NOT in the store (one
    left-anti join on the 16-byte fingerprint). Within-batch duplicates are
    also collapsed to their first (min-id) representative."""
    store = spark.read.parquet(path)
    fp = new_docs.withColumn("fp", fingerprint_md5(text_col))
    novel = fp.join(store, "fp", "left_anti")
    # collapse within-batch dups deterministically (min doc id per fp)
    first = novel.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return novel.join(first, ["fp", "doc_id"]).drop("fp")


def update_fingerprint_store(
    spark: SparkSession, accepted_docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Append the accepted batch's (new, distinct) fingerprints."""
    store = spark.read.parquet(path)
    new_fps = (
        accepted_docs.select(fingerprint_md5(text_col).alias("fp"))
        .distinct()
        .join(store, "fp", "left_anti")
    )
    new_fps.write.mode("append").parquet(path)


# ---------------------------------------------------------------------------
# near: banded MinHash signature store


def _banded_sigs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    sigs = docs.select(
        F.col(id_col).alias("doc_id"),
        minhash_signature(text_col).alias("sig"),
    )
    return sigs.select("doc_id", "sig", minhash_bands("sig").alias("bb")).select(
        "doc_id", "sig", "bb.band", "bb.bucket"
    )


def build_signature_store(docs: DataFrame, path: str, text_col: str = "text") -> None:
    """Persist the banded MinHash index partitioned by band — probes prune
    to the bands they touch."""
    _banded_sigs(docs, "doc_id", text_col).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(path)


def novel_against_signatures(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    threshold: float = 0.4,
) -> DataFrame:
    """Rows of ``new_docs`` with NO near-duplicate (estimated Jaccard >=
    threshold) in the store. Probe = equi-join on (band, bucket) against
    the partitioned index, then signature-agreement estimation on the
    candidate pairs only."""
    store = spark.read.parquet(path)
    probe = _banded_sigs(new_docs, "doc_id", text_col)
    cand = (
        probe.alias("p")
        .join(
            store.alias("s"),
            (F.col("p.band") == F.col("s.band"))
            & (F.col("p.bucket") == F.col("s.bucket")),
        )
        .select(
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.sig").alias("sig_p"),
            F.col("s.sig").alias("sig_s"),
        )
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_p", "sig_s", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(MINHASH_PERMS))
    dup_ids = cand.filter(est >= threshold).select("doc_id").distinct()
    return new_docs.join(dup_ids, "doc_id", "left_anti")


def update_signature_store(
    accepted_docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    _banded_sigs(accepted_docs, "doc_id", text_col).write.mode("append").partitionBy(
        "band"
    ).parquet(path)


# ---------------------------------------------------------------------------
# incremental additive rollups (materialized-aggregate maintenance)
#
# Physical layout — versioned data dirs behind one atomically-replaced
# pointer file (single-writer; readers resolve the pointer then scan):
#
#   path/
#     v_<hex>/       parquet data for one version (immutable once pointed-at)
#     _CURRENT       JSON {"version": "v_<hex>", "folded": ["0", "1", ...]}
#
# The pointer replace (os.replace of a same-directory temp file) is the
# ONE atomic step: the new data AND the folded-batch manifest become
# visible together, so a crash anywhere leaves either the old state
# (replay re-folds against old data — correct) or the complete new state
# (replay sees its batch_id in `folded` and skips — correct). The table
# is never absent mid-swap and never double-counts. Unreferenced version
# dirs from crashed swaps are garbage, collected on the next successful
# swap. On an object store the pointer becomes a metastore/manifest
# entry; the protocol is identical.


def _pointer_path(path: str) -> str:
    import os

    return os.path.join(path, "_CURRENT")


def _read_pointer(path: str) -> dict | None:
    import json
    import os

    p = _pointer_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _swap_in(path: str, write_fn, folded: list[str]) -> None:
    """Write a new version dir via ``write_fn(version_dir)``, then make it
    current — data + folded manifest in one atomic pointer replace —
    then GC stale version dirs. The IMMEDIATELY-PREVIOUS version is
    retained one extra swap: a reader that resolved the old pointer just
    before this commit can still finish scanning it (the snapshot-
    retention idea table formats implement with time-travel windows, at
    its minimum useful setting). Older versions — crashed-swap garbage
    or twice-superseded — are removed."""
    import json
    import os
    import shutil
    import uuid

    os.makedirs(path, exist_ok=True)
    prev = _read_pointer(path)
    prev_version = prev.get("version") if prev else None
    version = f"v_{uuid.uuid4().hex[:12]}"
    write_fn(os.path.join(path, version))
    tmp = os.path.join(path, f"._CURRENT.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as f:
        f.write(
            json.dumps(
                {
                    "version": version,
                    "previous": prev_version,
                    "folded": sorted(set(folded)),
                }
            )
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _pointer_path(path))  # the atomic commit point
    for entry in os.listdir(path):
        if entry.startswith("v_") and entry not in (version, prev_version):
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)


def rollup_exists(path: str) -> bool:
    return _read_pointer(path) is not None


def folded_batches(path: str) -> set[str]:
    """Batch ids whose deltas are already folded into the current version
    — read from the same atomically-swapped pointer as the data."""
    ptr = _read_pointer(path)
    return set(ptr.get("folded", [])) if ptr else set()


def read_rollup(
    spark: SparkSession, path: str, version: str = "current"
) -> DataFrame:
    """Resolve the pointer and scan a version's parquet.

    ``version="previous"`` reads the one retained prior snapshot (the
    swap keeps it for exactly one generation) — minimal time travel:
    diff a dashboard against its pre-fold state, or recover from a bad
    fold before the next one lands. Raises if no previous version is
    recorded or it has already been superseded twice."""
    import os

    ptr = _read_pointer(path)
    if ptr is None:
        raise ValueError(f"no rollup at {path} (missing _CURRENT pointer)")
    if version == "current":
        target = ptr["version"]
    elif version == "previous":
        target = ptr.get("previous")
        if not target or not os.path.isdir(os.path.join(path, target)):
            raise ValueError(
                f"no previous version retained at {path} (kept for one "
                "generation only)"
            )
    else:
        raise ValueError(f"version must be 'current' or 'previous', got {version!r}")
    return spark.read.parquet(os.path.join(path, target))


def build_rollup(
    facts: DataFrame,
    path: str,
    keys: list[str],
    sum_cols: dict[str, str],
    folded: list[str] | None = None,
) -> None:
    """Materialize an additive rollup table: per ``keys`` group, a row
    count and exact integer sums (callers pass pre-scaled long columns,
    e.g. cents — the engine's fixed-point money convention). One scan,
    map-side partials, |groups| rows on disk. ``folded`` seeds the
    folded-batch manifest when the build lands a streaming batch."""
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(src).alias(dst) for dst, src in sum_cols.items()
    ]
    agg = facts.groupBy(*keys).agg(*aggs)
    _swap_in(
        path,
        lambda vdir: agg.write.mode("overwrite").parquet(vdir),
        folded or [],
    )


def refresh_rollup(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    keys: list[str],
    sum_cols: dict[str, str],
    fold_batch_ids: list[str] | None = None,
) -> None:
    """Fold a DELTA of new facts into the materialized rollup WITHOUT
    rescanning history — the day-2 maintenance a 100 TB aggregate table
    needs. Additive aggregates (count/sum) merge exactly: aggregate the
    delta alone (small), union with the |groups|-sized stored table,
    re-sum per key, atomically replace (see the layout note above: the
    new data and the folded-batch manifest commit in one pointer
    replace, so a crash can never double-count or lose the table).

    Scale shape: cost is O(|delta| + |groups|), independent of history
    size. Non-additive aggregates (distinct counts) belong in sketch
    tables (operators/sketches.py) — same pattern, mergeable bytes."""
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(src).alias(dst) for dst, src in sum_cols.items()
    ]
    delta_agg = delta.groupBy(*keys).agg(*aggs)
    merged = (
        read_rollup(spark, path)
        .unionByName(delta_agg)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            *[F.sum(dst).alias(dst) for dst in sum_cols],
        )
    )
    already = folded_batches(path)
    _swap_in(
        path,
        lambda vdir: merged.write.mode("overwrite").parquet(vdir),
        sorted(already | set(fold_batch_ids or [])),
    )
