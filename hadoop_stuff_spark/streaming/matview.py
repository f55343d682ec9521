"""Streaming materialized-view maintenance — keep a persisted additive
rollup current as records arrive, without ever rescanning history.

Composition of two certified pieces:
- `operators/incremental.refresh_rollup` (batch delta fold-in,
  O(|delta| + |groups|), versioned-pointer atomic swap), driven by
- `foreachBatch`, so each micro-batch is one delta.

The result is the streaming twin of a nightly rollup rebuild: a
dashboard table that is seconds stale instead of a day stale, at
per-batch cost proportional to the batch — the maintenance loop a
100 TB metrics table actually runs. Replay safety: foreachBatch is
at-least-once, and a replayed delta WOULD double-count in an additive
rollup — so each batch's rows are landed idempotently by batch_id
first (same pattern as `exactly_once_parquet_sink`), then folded with
the batch id recorded IN the rollup's atomically-swapped pointer
manifest (`incremental._swap_in`): the new totals and the
"batch N is folded" fact become visible in the SAME os.replace, so a
crash at any instant leaves either the pre-fold state (replay re-folds
— correct) or the complete post-fold state (replay skips — correct).
There is no window where a replay can double-count.

Reference provenance: the reference's only "materialized" output was
stdout throughput printouts (IngestTest.java:90-94); any queryable
aggregate meant a full re-run. This keeps a real table current instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from hadoop_stuff_spark.operators.incremental import (
    _swap_in,
    build_rollup,
    folded_batches,
    read_rollup,
    refresh_rollup,
    rollup_exists,
)


def streaming_rollup_sink(
    rollup_path: str,
    keys: list[str],
    sum_cols: dict[str, str],
    work_dir: str,
):
    """foreachBatch function maintaining the rollup at ``rollup_path``.

    Per micro-batch: (1) land the batch's rows under
    ``work_dir/deltas/batch_id=N`` with overwrite (idempotent on replay),
    (2) if batch N is not in the rollup pointer's folded manifest, fold
    the landed delta in — the fold's data swap and the manifest entry
    commit atomically together. A replayed batch re-lands identical rows
    and skips the fold — the rollup never double-counts.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta_path = os.path.join(work_dir, "deltas", f"batch_id={batch_id}")
        batch.write.mode("overwrite").parquet(delta_path)
        bid = str(batch_id)
        if bid in folded_batches(rollup_path):
            return  # replay of an already-folded batch
        delta = spark.read.parquet(delta_path)
        if not rollup_exists(rollup_path):
            build_rollup(delta, rollup_path, keys, sum_cols, folded=[bid])
        else:
            refresh_rollup(
                spark, delta, rollup_path, keys, sum_cols, fold_batch_ids=[bid]
            )

    return sink


def streaming_sketch_sink(sketch_path: str, work_dir: str, lg_k: int = 12):
    """The MERGE-ONLY twin of `streaming_rollup_sink`: maintain a
    per-(day,type) HLL sketch table (operators/sketches.py) as events
    stream in. Per micro-batch: sketch the batch (tiny), read the stored
    sketch table (|cells| rows), union per cell with `hll_union_agg`,
    atomic pointer swap. Distinct-count dashboards then answer from the
    sketch table seconds-stale, never rescanning the stream's history —
    and because HLL union is idempotent-safe ONLY across distinct
    inputs, replays use the same batch_id landing + pointer-manifest
    protocol as the rollup sink (a replayed batch would otherwise
    inflate estimates); the fold and its manifest entry commit in one
    atomic pointer replace."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.operators.sketches import build_user_sketches

    return _merge_only_sink(
        sketch_path,
        work_dir,
        build=lambda df: build_user_sketches(df, lg_k=lg_k),
        merge_agg=lambda: F.hll_union_agg("user_sketch", F.lit(True)).alias(
            "user_sketch"
        ),
    )


def streaming_theta_sink(sketch_path: str, work_dir: str, lg_k: int = 14):
    """Streaming maintenance for the THETA sketch table
    (operators/sketches.build_user_theta_sketches) — same merge-only
    matview protocol as the HLL sink, but the maintained table supports
    set algebra (overlap / retention / difference), so the streaming
    pipeline keeps audience-algebra dashboards seconds-stale too."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.operators.sketches import build_user_theta_sketches

    return _merge_only_sink(
        sketch_path,
        work_dir,
        build=lambda df: build_user_theta_sketches(df, lg_k=lg_k),
        merge_agg=lambda: F.theta_union_agg("user_theta").alias("user_theta"),
    )


def streaming_kll_sink(sketch_path: str, work_dir: str, k: int = 200):
    """Streaming maintenance for the KLL quantile sketch table
    (operators/sketches.build_value_kll_sketches): per-batch sketches
    fold into the stored per-cell sketches (pairwise-merge HOF over the
    collected blobs — bounded by cells, not rows), so p50/p95/p99
    dashboards stay seconds-stale without fact rescans."""
    from hadoop_stuff_spark.operators.sketches import (
        _kll_fold,
        build_value_kll_sketches,
    )

    return _merge_only_sink(
        sketch_path,
        work_dir,
        build=lambda df: build_value_kll_sketches(df, k=k),
        merge_agg=lambda: _kll_fold("value_kll").alias("value_kll"),
    )


def _merge_only_sink(sketch_path: str, work_dir: str, build, merge_agg):
    """Shared merge-only matview foreachBatch body: idempotent delta
    landing by batch_id, per-cell sketch union, atomic pointer swap
    carrying the folded manifest (see module docstring)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta_path = os.path.join(work_dir, "deltas", f"batch_id={batch_id}")
        batch.write.mode("overwrite").parquet(delta_path)
        bid = str(batch_id)
        if bid in folded_batches(sketch_path):
            return
        delta = build(spark.read.parquet(delta_path))
        if rollup_exists(sketch_path):
            merged = (
                read_rollup(spark, sketch_path)
                .unionByName(delta)
                .groupBy("event_date", "event_type")
                .agg(merge_agg())
            )
            out, folded = merged, folded_batches(sketch_path) | {bid}
        else:
            out, folded = delta, {bid}
        _swap_in(
            sketch_path,
            lambda vdir: out.write.mode("overwrite").parquet(vdir),
            sorted(folded),
        )

    return sink


def streaming_upsert_sink(
    target_path: str,
    keys: list[str],
    partition_cols: list[str],
    work_dir: str,
    seq_col: str | None = None,
):
    """CDC-style foreachBatch sink: each micro-batch of key-addressed
    changes MERGES into a current-state parquet table
    (`sources/upsert.upsert_by_key` — replaced keys, inserted keys,
    only delta-touched partitions rewritten). Replay safety needs no
    fold markers here: the batch is landed idempotently by batch_id and
    re-applying the SAME delta is a no-op by upsert semantics (its keys
    already carry its values), so at-least-once delivery converges.

    Within-batch duplicate keys: "the last row wins" is only
    well-defined when the feed carries a CDC sequence (LSN / commit
    timestamp) — rows landed to storage have no inherent order, and a
    synthetic row-id is non-deterministic across re-executions (that
    exact flake was caught writing this sink's test). So the contract
    is explicit: pass ``seq_col`` and the highest sequence per key wins
    (deterministic given unique sequences, the CDC invariant);
    without one, duplicate keys in a batch are REJECTED by
    `upsert_by_key`'s ANSI-MERGE guard rather than resolved
    arbitrarily."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.sources.upsert import upsert_by_key

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta_path = os.path.join(work_dir, "deltas", f"batch_id={batch_id}")
        batch.write.mode("overwrite").parquet(delta_path)
        delta = spark.read.parquet(delta_path)
        if seq_col is not None:
            last = delta.groupBy(*keys).agg(F.max(seq_col).alias(seq_col))
            delta = delta.join(last, [*keys, seq_col])
        if not os.path.exists(target_path):
            delta.write.partitionBy(*partition_cols).parquet(target_path)
            return
        upsert_by_key(spark, target_path, delta, keys, partition_cols)

    return sink
