"""Focused pins for the r13 optimization internals.

Each test pins an invariant an r13 performance change relies on, so a
future edit that breaks the invariant fails HERE rather than as a silent
wrong number downstream:

- the JL block-pair fan-out must cover every unordered pair exactly once
  whatever the block assignment scatters, and its per-task row guard
  must fail loudly (ADVICE r12: the single-task shape OOMed opaquely);
- the bootstrap replicate fan-out relies on engine-wide ANSI mode to
  raise (not wrap) if the int64 replicate sums ever overflow (ADVICE
  r12: the decimal(19,0) -> long cut removed the widened-decimal
  headroom on purpose; the documented failure mode is a loud error).
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _write_embeddings(path, ids, dim=64):
    os.makedirs(path)
    base = [float(k % 7 - 3) for k in range(dim)]
    pts = [[x * (m + 1) for x in base] for m in range(len(ids))]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(pts, pa.list_(pa.float32())),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        str(path / "embeddings.parquet"),
    )


def _sampled_ids(n):
    """vec_ids that pass the 20% md5 sample gate of the JL operator."""
    import hashlib

    return [
        i
        for i in range(4000)
        if hashlib.md5(f"jlpairs{i}".encode()).hexdigest()[:6] < "333333"
    ][:n]


def test_jl_block_fanout_covers_every_pair_once(spark, tmp_path):
    """With enough sampled vectors to populate many blocks (and so many
    cross-block AND in-block groups), the summed histogram must count
    exactly C(n, 2) pairs — the block-pair decomposition is a partition
    of the unordered-pair set, never a dup or a drop."""
    from hadoop_stuff_spark.operators.similarity import (
        n2_jl_projection_distortion,
    )

    ids = _sampled_ids(40)
    sf = tmp_path / "sf_jl_blocks"
    _write_embeddings(sf, ids)
    got = n2_jl_projection_distortion(spark, str(sf)).collect()
    n = len(ids)
    assert sum(r["n_pairs"] for r in got) == n * (n - 1) // 2
    # identical-direction vectors: every pair is bin 0 in both spaces
    assert len(got) == 1 and got[0]["bin"] == 0


def test_jl_block_byte_guard_raises_loudly(spark, tmp_path, monkeypatch):
    """The per-task byte guard is the documented failure mode for an
    oversized sample (ADVICE r12) — it must raise a ValueError naming
    the knobs, not an opaque executor OOM."""
    from hadoop_stuff_spark.operators import similarity

    ids = _sampled_ids(30)
    sf = tmp_path / "sf_jl_guard"
    _write_embeddings(sf, ids)
    monkeypatch.setattr(similarity, "_JL_MAX_BLOCK_BYTES", 1000)
    with pytest.raises(Exception, match="_JL_MAX_BLOCK_BYTES"):
        similarity.n2_jl_projection_distortion(spark, str(sf)).collect()


def test_jl_block_guard_bounds_bytes_not_rows():
    """500k rows passed the former 2M-row cap, yet each cosine step
    over them holds two 1024 × 500k float64 blocks (8 GB): the byte
    guard refuses that task at its default cap."""
    from hadoop_stuff_spark.operators import similarity

    rows = 500_000
    with pytest.raises(ValueError, match="_JL_MAX_BLOCK_BYTES"):
        similarity._jl_block_guard(0, 1, rows, similarity._JL_MAX_BLOCK_BYTES)
    # a block pair of the sf0.1 sample (~400 vectors) is far inside it
    similarity._jl_block_guard(0, 1, 400, similarity._JL_MAX_BLOCK_BYTES)


def test_bootstrap_session_is_ansi(spark):
    """_poisson_boot_ci's long micro-unit fixed point documents overflow
    as a LOUD ANSI error, never a silent wrap — pin the session mode the
    whole certified suite runs under (ADVICE r12 #2)."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
