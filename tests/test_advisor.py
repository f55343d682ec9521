"""Size-aware plan advisor: join size report, missed-broadcast and
large-shuffle findings from Catalyst's own estimates."""

import pyspark.sql.functions as F

from hadoop_stuff_spark.plans.advisor import advise, join_size_report


def _tables(spark, tmp_path):
    big = spark.range(200_000).select(
        F.col("id").alias("k"), F.col("id").alias("va")
    )
    small = spark.range(50).select(F.col("id").alias("k"), F.col("id").alias("vb"))
    bp, sp = str(tmp_path / "big"), str(tmp_path / "small")
    big.write.parquet(bp)
    small.write.parquet(sp)
    return spark.read.parquet(bp), spark.read.parquet(sp)


def test_join_size_report_orders_sides_sensibly(spark, tmp_path):
    big, small = _tables(spark, tmp_path)
    rep = join_size_report(big.join(small, "k"))
    assert len(rep) == 1
    j = rep[0]
    assert j["join_type"].startswith("Inner")
    assert min(j["left_bytes"], j["right_bytes"]) < max(
        j["left_bytes"], j["right_bytes"]
    )
    assert min(j["left_bytes"], j["right_bytes"]) < 100_000  # the 50-row side


def test_advise_flags_missed_broadcast_when_disabled(spark, tmp_path):
    """With auto-broadcast disabled, Spark plans a shuffle join even
    though one side is tiny — the advisor (told the production
    threshold) must flag it; re-enabled, the same query is clean."""
    big, small = _tables(spark, tmp_path)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = big.join(small, "k")
        findings = advise(df, broadcast_threshold=10 * 1024 * 1024)
        assert [r for r, _ in findings] == ["missed-broadcast"], findings
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    clean = advise(big.join(small, "k"))
    assert [r for r, _ in clean if r == "missed-broadcast"] == []


def test_advise_flags_large_shuffle_with_tiny_budget(spark, tmp_path):
    """Same fact-fact join: below the large_bytes budget it is quiet,
    above it the large-shuffle advisory fires (threshold lowered so the
    test stays small)."""
    big, _ = _tables(spark, tmp_path)
    other = big.select(F.col("k"), (F.col("va") * 2).alias("vc"))
    df = big.join(other, "k")
    quiet = [r for r, _ in advise(df, large_bytes=1 << 40)]
    assert "large-shuffle" not in quiet
    loud = [r for r, _ in advise(df, large_bytes=1000)]
    assert "large-shuffle" in loud


def test_parse_bytes_two_letter_suffixes():
    """'128mb'-style conf values must parse (ADVICE r4 medium: the 'b'
    suffix matching first sent '128mb' to float('128m') and crashed
    every operator that calls catalog.spread under that conf). The
    advisor shares the one canonical implementation."""
    from hadoop_stuff_spark.catalog import _parse_bytes
    from hadoop_stuff_spark.plans.advisor import _parse_bytes as advisor_pb

    assert advisor_pb is _parse_bytes  # single shared implementation
    assert _parse_bytes("128mb") == 128 << 20
    assert _parse_bytes("1gb") == 1 << 30
    assert _parse_bytes("2kb") == 2 << 10
    assert _parse_bytes("1tb") == 1 << 40
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes(" 1.5G ") == int(1.5 * (1 << 30))


def test_spread_survives_two_letter_max_partition_bytes(spark, tmp_path):
    """catalog.spread estimates scan partitions from
    spark.sql.files.maxPartitionBytes — which users legitimately set
    with two-letter suffixes; pre-fix this raised ValueError on every
    file-scan frame."""
    from hadoop_stuff_spark.catalog import spread

    p = str(tmp_path / "pb")
    spark.range(1000).write.parquet(p)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128mb")
        assert spread(spark.read.parquet(p)).count() == 1000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_spread_estimates_derived_frames_by_their_input_files(spark, sf_dir):
    """catalog.spread's estimate reads Dataset.inputFiles, the file
    relations of the whole optimized plan: a shuffled aggregate over the
    one-file documents scan is estimated at one partition and spread
    again, while a checkpoint reads no file and is left as it is."""
    from hadoop_stuff_spark.catalog import _scan_partition_estimate, load_table, spread

    derived = load_table(spark, sf_dir, "documents").groupBy("source").count()
    assert _scan_partition_estimate(derived) == 1
    wide = spread(derived)
    assert wide is not derived
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    ckpt = derived.localCheckpoint(eager=True)
    assert _scan_partition_estimate(ckpt) is None
    assert spread(ckpt) is ckpt
