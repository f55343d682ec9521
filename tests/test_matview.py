"""Streaming materialized-view maintenance: the rollup tracks the stream
exactly, and replayed batches never double-count."""

import os

import pyspark.sql.functions as F

from hadoop_stuff_spark.operators.incremental import read_rollup
from hadoop_stuff_spark.streaming.matview import streaming_rollup_sink
from hadoop_stuff_spark.streaming.tail import tail_stream


def _write_log(directory, name, lines):
    with open(os.path.join(directory, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def _parsed(stream):
    return stream.select(
        F.split("value", " ")[0].alias("k"),
        F.split("value", " ")[1].cast("long").alias("cents"),
    )


def test_streaming_rollup_tracks_stream_and_survives_replay(spark, tmp_path):
    logdir = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    rollup = str(tmp_path / "rollup")
    work = str(tmp_path / "work")
    os.makedirs(logdir)

    keys, sums = ["k"], {"total_cents": "cents"}
    sink = streaming_rollup_sink(rollup, keys, sums, work)

    def run():
        q = (
            _parsed(tail_stream(spark, logdir))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    all_lines = []
    batches = [
        ["a 100", "b 250", "a 50"],
        ["b 10", "c 7"],
    ]
    for i, lines in enumerate(batches):
        _write_log(logdir, f"b{i}.txt", lines)
        all_lines += lines
        run()
        got = {
            r.k: (r.n_rows, r.total_cents)
            for r in read_rollup(spark, rollup).collect()
        }
        exp = {}
        for ln in all_lines:
            k, c = ln.split(" ")
            n, t = exp.get(k, (0, 0))
            exp[k] = (n + 1, t + int(c))
        assert got == exp, (got, exp)

    # REPLAY: drive the sink directly with an already-folded batch id —
    # the delta re-lands, the fold is skipped, totals unchanged
    before = {
        r.k: (r.n_rows, r.total_cents) for r in read_rollup(spark, rollup).collect()
    }
    replay = spark.createDataFrame([("a", 100), ("b", 250), ("a", 50)], "k string, cents long")
    sink(replay, 0)
    after = {
        r.k: (r.n_rows, r.total_cents) for r in read_rollup(spark, rollup).collect()
    }
    assert after == before


def test_streaming_sketch_maintenance_matches_direct(spark, sf_dir, tmp_path):
    """Stream events in two batches through the sketch sink: the
    maintained sketch table's rollup must equal sketching all events in
    one batch pass (merge identity), and a replay must not inflate it."""
    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.operators.sketches import rollup_distinct_users
    from hadoop_stuff_spark.streaming.matview import streaming_sketch_sink

    events = load_table(spark, sf_dir, "events").select("ts", "event_type", "user_id")
    b0 = events.filter(F.col("user_id") % 2 == 0)
    b1 = events.filter(F.col("user_id") % 2 == 1)

    sketch_path = str(tmp_path / "sketches")
    work = str(tmp_path / "work")
    sink = streaming_sketch_sink(sketch_path, work)
    sink(b0, 0)
    sink(b1, 1)

    got = {
        r.event_type: r.approx_distinct_users
        for r in rollup_distinct_users(read_rollup(spark, sketch_path)).collect()
    }
    from hadoop_stuff_spark.operators.sketches import build_user_sketches

    want = {
        r.event_type: r.approx_distinct_users
        for r in rollup_distinct_users(build_user_sketches(events)).collect()
    }
    assert got == want

    # replay of batch 0: estimates unchanged
    sink(b0, 0)
    again = {
        r.event_type: r.approx_distinct_users
        for r in rollup_distinct_users(read_rollup(spark, sketch_path)).collect()
    }
    assert again == want


def test_streaming_theta_maintenance_matches_direct_and_supports_algebra(
    spark, sf_dir, tmp_path
):
    """Theta twin of the sketch sink: the maintained table's per-type
    estimates equal one-pass direct sketching, a replay changes nothing,
    and the maintained table still answers the set-algebra query
    (audience overlap) correctly."""
    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.operators.sketches import (
        build_user_theta_sketches,
        theta_audience_overlap,
        theta_distinct_users_by_type,
    )
    from hadoop_stuff_spark.streaming.matview import streaming_theta_sink

    events = load_table(spark, sf_dir, "events").select("ts", "event_type", "user_id")
    b0 = events.filter(F.col("user_id") % 2 == 0)
    b1 = events.filter(F.col("user_id") % 2 == 1)

    sketch_path = str(tmp_path / "theta")
    sink = streaming_theta_sink(sketch_path, str(tmp_path / "work"))
    sink(b0, 0)
    sink(b1, 1)

    maintained = read_rollup(spark, sketch_path)
    got = {
        r.event_type: r.approx_distinct_users
        for r in theta_distinct_users_by_type(maintained).collect()
    }
    want = {
        r.event_type: r.approx_distinct_users
        for r in theta_distinct_users_by_type(
            build_user_theta_sketches(events)
        ).collect()
    }
    assert got == want

    # replay: unchanged
    sink(b0, 0)
    again = {
        r.event_type: r.approx_distinct_users
        for r in theta_distinct_users_by_type(
            read_rollup(spark, sketch_path)
        ).collect()
    }
    assert again == want

    # the maintained table supports the algebra the HLL table cannot:
    # overlap vs exact sets (sf0.01 cardinalities are in exact mode)
    row = theta_audience_overlap(
        read_rollup(spark, sketch_path), "purchase", "click"
    ).collect()[0]
    ex = events.select("event_type", "user_id").distinct()
    a = {r.user_id for r in ex.filter(F.col("event_type") == "purchase").collect()}
    b = {r.user_id for r in ex.filter(F.col("event_type") == "click").collect()}
    assert row.n_both == float(len(a & b))
    assert row.n_either == float(len(a | b))


def test_streaming_kll_maintenance_quantiles_track_stream(spark, sf_dir, tmp_path):
    """KLL twin: after two batches + a replay, the maintained table's
    per-type quantiles must match direct one-pass sketching, and each
    estimate's true rank must sit within the sketch's error bound."""
    import bisect

    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.operators.sketches import (
        build_value_kll_sketches,
        kll_quantiles_by_type,
    )
    from hadoop_stuff_spark.streaming.matview import streaming_kll_sink

    events = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    b0 = events.filter(F.dayofmonth("ts") % 2 == 0)
    b1 = events.filter(F.dayofmonth("ts") % 2 == 1)

    path = str(tmp_path / "kll")
    sink = streaming_kll_sink(path, str(tmp_path / "work"))
    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)  # replay — must not change anything

    got = {
        r.event_type: (r.p50, r.p95, r.p99)
        for r in kll_quantiles_by_type(read_rollup(spark, path)).collect()
    }
    direct = {
        r.event_type: (r.p50, r.p95, r.p99)
        for r in kll_quantiles_by_type(build_value_kll_sketches(events)).collect()
    }
    assert set(got) == set(direct)

    exact: dict[str, list[float]] = {}
    for r in events.select("event_type", "value").collect():
        exact.setdefault(r.event_type, []).append(float(r.value))
    for vals in exact.values():
        vals.sort()
    for etype, (p50, p95, p99) in got.items():
        vals = exact[etype]
        for p, est in ((0.5, p50), (0.95, p95), (0.99, p99)):
            rank = bisect.bisect_right(vals, est) / len(vals)
            assert abs(rank - p) <= 0.035, (etype, p, est, rank)


def test_streaming_drift_monitor_end_to_end(spark, tmp_path):
    """The monitoring loop composed: batches stream through the KLL
    sink maintaining the sketch table; the drift query over the
    MAINTAINED table flags a distribution shift between periods and
    stays quiet for a stable stream — no fact rescans anywhere."""
    from hadoop_stuff_spark.operators.sketches import kll_drift_by_type
    from hadoop_stuff_spark.streaming.matview import streaming_kll_sink

    def batch(day, event_type, shift):
        return (
            spark.range(8000)
            .select(
                F.lit(f"2024-06-{day:02d}").cast("timestamp").alias("ts"),
                F.lit(event_type).alias("event_type"),
                (
                    F.pmod(F.col("id") * 2654435761, F.lit(10_000)).cast("double")
                    / 100
                    + F.lit(float(shift))
                ).alias("value"),
            )
        )

    path = str(tmp_path / "kll")
    sink = streaming_kll_sink(path, str(tmp_path / "work"))
    # week 1 batches, then week 2: 'drifted' shifts, 'stable' does not
    sink(batch(1, "stable", 0).unionByName(batch(1, "drifted", 0)), 0)
    sink(batch(3, "stable", 0).unionByName(batch(3, "drifted", 0)), 1)
    sink(batch(10, "stable", 0).unionByName(batch(10, "drifted", 50)), 2)
    sink(batch(12, "stable", 0).unionByName(batch(12, "drifted", 50)), 3)

    from hadoop_stuff_spark.operators.incremental import read_rollup

    ks = {
        r.event_type: r.ks_distance
        for r in kll_drift_by_type(read_rollup(spark, path), "2024-06-07").collect()
    }
    assert ks["stable"] <= 0.05, ks
    assert ks["drifted"] >= 0.4, ks  # uniform[0,100] vs uniform[50,150] → 0.5


def test_streaming_upsert_sink_maintains_current_state(spark, tmp_path):
    """CDC sink: batches of key-addressed changes maintain a current-
    state table; a replayed batch converges (idempotent merge); within-
    batch duplicates resolve by the CDC sequence column, and are
    REJECTED when no sequence exists (order of landed rows is
    undefined — resolving arbitrarily would be a silent wrong answer)."""
    import pytest

    from hadoop_stuff_spark.streaming.matview import streaming_upsert_sink

    target = str(tmp_path / "state")
    sink = streaming_upsert_sink(
        target, keys=["k"], partition_cols=["day"],
        work_dir=str(tmp_path / "w"), seq_col="lsn",
    )

    b0 = spark.createDataFrame(
        [(1, 0, "a0", 10), (2, 0, "b0", 11), (3, 1, "c0", 12)],
        "k long, day int, v string, lsn long",
    )
    b1 = spark.createDataFrame(
        [(2, 0, "b1-old", 20), (2, 0, "b1-new", 21), (4, 1, "d1", 22)],
        "k long, day int, v string, lsn long",
    )
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # replay converges

    got = {
        r.k: (r.day, r.v)
        for r in spark.read.parquet(target).select("k", "day", "v").collect()
    }
    assert got == {
        1: (0, "a0"),
        2: (0, "b1-new"),  # highest lsn wins within batch 1
        3: (1, "c0"),
        4: (1, "d1"),
    }

    # no seq_col → duplicate keys in a batch are rejected, not resolved
    bare = streaming_upsert_sink(
        target, keys=["k"], partition_cols=["day"], work_dir=str(tmp_path / "w2")
    )
    dup = spark.createDataFrame(
        [(5, 0, "x", 1), (5, 0, "y", 2)], "k long, day int, v string, lsn long"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        bare(dup, 0)
