"""Stateful streaming operator tests (applyInPandasWithState): keyed state
survives across micro-batch runs via the checkpoint, duplicates are dropped
stream-lifetime-wide, running counters accumulate."""

import os
import time

from pyspark.sql import functions as F

from hadoop_stuff_spark.streaming.stateful import dedup_first_seen, running_counts
from hadoop_stuff_spark.streaming.tail import tail_stream
import pytest

# full-sweep suite (see pytest.ini): deselected from the default
# driver-facing run, executed via `pytest tests/ -m "" -q`
pytestmark = pytest.mark.slow


def _write_log(directory: str, name: str, lines: list[str]) -> None:
    with open(os.path.join(directory, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def _keyed(stream):
    # key = first token of the line, value = whole line
    return stream.select(
        F.split(F.col("value"), " ")[0].alias("k"), F.col("value").alias("v")
    )


def test_streaming_dedup_within_and_across_batches(spark, tmp_path):
    logdir = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out1")
    os.makedirs(logdir)

    _write_log(logdir, "b0.txt", ["A one", "A two", "B one", "C one", "B two"])

    q = (
        dedup_first_seen(_keyed(tail_stream(spark, logdir)), "k", "v")
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {r["key"]: r["value"] for r in spark.read.parquet(outdir).collect()}
    assert set(got) == {"A", "B", "C"}

    # --- second run: duplicates of A/B/C must NOT re-emit (state came back
    # from the checkpoint); only the brand-new key D appears.
    _write_log(logdir, "b1.txt", ["A three", "D one", "C two", "D two"])
    q2 = (
        dedup_first_seen(_keyed(tail_stream(spark, logdir)), "k", "v")
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)

    rows = spark.read.parquet(outdir).collect()
    keys = sorted(r["key"] for r in rows)
    assert keys == ["A", "B", "C", "D"], rows
    d_val = next(r["value"] for r in rows if r["key"] == "D")
    assert d_val == "D one"


def test_running_counts_accumulate_across_batches(spark, tmp_path):
    logdir = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    os.makedirs(logdir)

    _write_log(logdir, "b0.txt", ["A x", "A y", "B x"])
    # parquet sink is append-only → land update-mode output via foreachBatch
    for _ in range(2):  # second run adds a new file before restarting
        q = (
            running_counts(_keyed(tail_stream(spark, logdir)), "k")
            .writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(outdir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        _write_log(logdir, "b1.txt", ["A z", "C x"])

    # batch 1 emitted (A,2),(B,1); batch 2 (A,3),(C,1) — totals accumulate
    rows = {(r["key"], r["n_total"]) for r in spark.read.parquet(outdir).collect()}
    assert ("A", 2) in rows and ("B", 1) in rows
    assert ("A", 3) in rows and ("C", 1) in rows


def test_exactly_once_sink_replay_safe(spark, tmp_path):
    """Replaying a micro-batch (the at-least-once failure window) must not
    duplicate output: same batch_id overwrites its own partition."""
    from hadoop_stuff_spark.streaming.stateful import exactly_once_parquet_sink

    out = str(tmp_path / "out")
    sink = exactly_once_parquet_sink(out)

    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")

    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)  # REPLAY of batch 0
    rows = {(r.id, r.v) for r in spark.read.parquet(out).collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}
    assert spark.read.parquet(out).count() == 3  # no duplicates

    # end-to-end through a real stream run
    logdir = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    out2 = str(tmp_path / "out2")
    os.makedirs(logdir)
    _write_log(logdir, "b0.txt", ["A one", "B two"])
    q = (
        _keyed(tail_stream(spark, logdir))
        .writeStream.foreachBatch(exactly_once_parquet_sink(out2))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert spark.read.parquet(out2).count() == 2


def test_heavy_hitters_bounded_state_tracks_top_items(spark, tmp_path):
    from hadoop_stuff_spark.streaming.stateful import _mg_merge, heavy_hitters

    logdir = str(tmp_path / "hh_logs")
    ckpt = str(tmp_path / "hh_ckpt")
    os.makedirs(logdir)

    # key "W": item 'hot' dominates (12 of 20); many one-off items force
    # evictions at capacity 4
    batch1 = ["W hot"] * 6 + [f"W cold{i}" for i in range(5)] + ["W warm"] * 3
    _write_log(logdir, "b0.txt", batch1)

    from hadoop_stuff_spark.streaming.stateful import exactly_once_parquet_sink

    outdir = str(tmp_path / "hh_out")

    def run(name):
        q = (
            heavy_hitters(_keyed(tail_stream(spark, logdir)), "k", "v", capacity=4)
            .writeStream.outputMode("update")
            .foreachBatch(exactly_once_parquet_sink(outdir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(outdir).collect()

    rows = run("hh1")
    est = {r["item"]: r["est_count"] for r in rows}
    assert "W hot" in est
    n1 = len(batch1)
    assert est["W hot"] <= 6 and est["W hot"] >= 6 - n1 // 4

    # --- second batch: state (sketch) restored from checkpoint; 'hot'
    # keeps accumulating and stays the top item
    _write_log(logdir, "b1.txt", ["W hot"] * 6 + [f"W cold{i+10}" for i in range(4)])
    run("hh2")
    # the exactly-once sink partitions by batch_id; the LAST snapshot is
    # the rows of the max batch_id alone (mixing batches would blend
    # batch-0 and batch-1 estimates)
    all_df = spark.read.parquet(outdir)
    max_bid = all_df.agg({"batch_id": "max"}).collect()[0][0]
    latest = {
        r["item"]: r["est_count"]
        for r in all_df.filter(all_df["batch_id"] == max_bid).collect()
    }
    total = len(batch1) + 10
    assert max(latest, key=latest.get) == "W hot"
    assert latest["W hot"] <= 12 and latest["W hot"] >= 12 - total // 4
    # bounded state: never more than capacity items tracked in a snapshot
    assert len(latest) <= 4


def test_mg_merge_guarantee_property():
    """Misra-Gries invariant on random-ish data: est <= true and
    true - est <= n/capacity, and every item with freq > n/capacity is
    tracked."""
    from collections import Counter

    from hadoop_stuff_spark.streaming.stateful import _mg_merge

    items = (["a"] * 40 + ["b"] * 25 + ["c"] * 10
             + [f"x{i}" for i in range(25)])
    cap = 8
    true = Counter(items)
    n = len(items)
    sketch: dict[str, int] = {}
    # feed in chunks to exercise the batched merge path
    for i in range(0, n, 7):
        chunk = Counter(items[i : i + 7])
        sketch = _mg_merge(sketch, dict(chunk), cap)
    assert len(sketch) <= cap
    for item, est in sketch.items():
        assert est <= true[item]
        assert true[item] - est <= n // cap
    for item, cnt in true.items():
        if cnt > n / cap:
            assert item in sketch, (item, cnt)


def _stop_when_drained(q, timeout_s: float = 300) -> None:
    """Stop an availableNow query with a processing-time timeout once its
    input is processed. Such a query never terminates by itself, and
    ``processAllAvailable()`` never returns for it either (see
    dedup_first_seen_ttl): it runs empty batches forever. availableNow
    fixes its input at start, so the first batch without input AFTER a
    batch with input means the input is done. (A restart may first replay
    the empty batch the previous run was stopped in; that one does not
    count. Every run here has new input.)"""

    def drained() -> bool:
        rows = [p["numInputRows"] for p in q.recentProgress]
        first = next((i for i, n in enumerate(rows) if n > 0), None)
        return first is not None and 0 in rows[first + 1 :]

    deadline = time.monotonic() + timeout_s
    try:
        while q.isActive and not drained():
            assert time.monotonic() < deadline, "query did not drain its input"
            time.sleep(0.1)
    finally:
        q.stop()
    assert q.exception() is None, q.exception()


def test_dedup_ttl_suppresses_within_window(spark, tmp_path):
    """Within the TTL, duplicate keys are dropped exactly like
    dedup_first_seen (long TTL → no eviction during the test; the TTL is
    PROCESSING time, so it must exceed any plausible wall-clock gap
    between the two runs — a 5-minute TTL flaked once inside a heavily
    contended 34-minute full-suite run)."""
    from hadoop_stuff_spark.streaming.stateful import (
        dedup_first_seen_ttl,
        exactly_once_parquet_sink,
    )

    logdir = str(tmp_path / "ttl_logs")
    ckpt = str(tmp_path / "ttl_ckpt")
    outdir = str(tmp_path / "ttl_out")
    os.makedirs(logdir)
    _write_log(logdir, "b0.txt", ["k1 v1", "k2 v2", "k1 v3"])

    def run():
        q = (
            dedup_first_seen_ttl(
                _keyed(tail_stream(spark, logdir)), "k", "v", ttl_ms=3_600_000
            )
            .writeStream.foreachBatch(exactly_once_parquet_sink(outdir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _stop_when_drained(q)

    run()
    got = sorted(r.key for r in spark.read.parquet(outdir).collect())
    assert got == ["k1", "k2"]
    # second batch inside the TTL: both keys still suppressed
    _write_log(logdir, "b1.txt", ["k1 v4", "k2 v5", "k3 v6"])
    run()
    got = sorted(r.key for r in spark.read.parquet(outdir).collect())
    assert got == ["k1", "k2", "k3"]


def test_dedup_ttl_evicts_idle_keys(spark, tmp_path):
    """After the TTL passes with no arrivals, the key's state is evicted
    and its content is first-seen again — bounded state on an infinite
    stream."""
    from hadoop_stuff_spark.streaming.stateful import (
        dedup_first_seen_ttl,
        exactly_once_parquet_sink,
    )

    logdir = str(tmp_path / "ttl2_logs")
    ckpt = str(tmp_path / "ttl2_ckpt")
    outdir = str(tmp_path / "ttl2_out")
    os.makedirs(logdir)
    _write_log(logdir, "b0.txt", ["k1 v1"])

    def run():
        q = (
            dedup_first_seen_ttl(
                _keyed(tail_stream(spark, logdir)), "k", "v", ttl_ms=1000
            )
            .writeStream.foreachBatch(exactly_once_parquet_sink(outdir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _stop_when_drained(q)

    run()
    assert [r.key for r in spark.read.parquet(outdir).collect()] == ["k1"]
    time.sleep(3)  # > ttl while idle
    # two more batches: the first fires the timeout (evicts), after which
    # k1 re-arrives as new
    _write_log(logdir, "b1.txt", ["other x"])
    run()
    _write_log(logdir, "b2.txt", ["k1 v2"])
    run()
    ks = sorted(r.key for r in spark.read.parquet(outdir).collect())
    assert ks == ["k1", "k1", "other"], ks
