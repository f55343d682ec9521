#!/usr/bin/env python
"""Benchmark harness — runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Query set = the reference-parity pipeline (grep, chunked count, wiretap
fan-out) + the relational headliners (Q1/Q3/Q5 shapes) + the north-star ops
(dedup, similarity, text stats). Each timing covers plan + execution of the
whole result into Spark's noop sink, which computes every column of every
row — the elapsed time per job that the reference's printouts measured
(TailFTest.java steps 1-4), without the pruning Catalyst applies under
count(). Timings are medians over interleaved passes (see `main`).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_stuff_spark.plans.registry import EXTRA_QUERIES, QUERIES  # noqa: E402

ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}
from hadoop_stuff_spark.session import codegen_compiles, get_spark  # noqa: E402

HEADLINE = [
    "flagship_grep_count",
    "t4_grep_regex",
    "t1_t3_a1_a3_chunked_count",
    "st2_st3_wiretap_routing",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "window_top_customers_per_nation",
    "q17_small_quantity_revenue",
    "n1_dedup_exact_groups",
    "n1_minhash_near_dups",
    "n1_simhash_near_dups",
    "n2_topk_cosine_bruteforce",
    "n2_topk_cosine_pq",
    "n3_text_stats",
    "n3_winnowed_fingerprints",
    "n3_vocabulary",
    "n1_contamination_report",
    "skew_salted_join_enriched_counts",
    "asof_purchase_last_click",
    "range_error_window_activity",
    "q8_nation_market_share",
    "hll_sketch_distinct_users",
    "theta_overlap_users",
    "kll_value_quantiles",
    "dq_orders_report",
    "n3_document_chunks",
    "copurchase_pairs",
    "n1_curate_pipeline",
    "funnel_conversion",
    "pagerank_copurchase_parts",
    "n2_kmeans_lloyd",
    "n1_semantic_dedup_pairs",
    "n3_importance_resampling",
    "n2_hybrid_rrf_fusion",
    "n1_containment_pairs",
    "n3_skipgram_cooccurrence",
    "gini_doc_length_by_source",
    "referential_integrity_report",
    "n3_unigram_kl_by_source",
    "order_value_decile_lift",
    "source_js_divergence_matrix",
    "rfm_customer_segments",
    "ks_interarrival_expfit",
    "basket_affinity_lift",
    "changepoint_daily_orders",
    "forecast_backtest_daily_orders",
    "acf_daily_orders",
    "n3_curation_funnel_by_source",
    "part_neighbor_jaccard",
    "n2_label_silhouette",
    "ab_value_bootstrap_ci",
    "seasonal_residual_changepoint",
    "per_source_near_dup_rate",
    "n3_effective_token_yield",
    "seasonality_strength_by_priority",
    "weekly_retention_matrix",
    "n3_dedup_aware_token_budget",
    "ab_bootstrap_ci_by_nation",
    "user_lifecycle_weekly",
    "priority_share_control_chart",
    "n2_source_centroid_similarity",
    "n2_jl_projection_distortion",
]


# queries whose median over the passes reaches SLOW_S seconds dominate the
# total, and at three runs one co-tenant spike can move their median: they
# get EXTRA_RUNS more interleaved runs, so their median is over five
SLOW_S = 2.0
EXTRA_RUNS = 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    fns = {name: ALL_QUERIES[name].fn for name in HEADLINE}
    spark = get_spark(app_name="hadoop-stuff-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/session (not counted): datasource init, plus JIT of the
    # hot expression paths (regex/md5/aggregate) and the Python-worker pool.
    # Measured: the md5-fingerprint groupBy pays 3-30s of C2-compiler warmup
    # on its FIRST execution in a session and ~0.5s after — steady-state is
    # what the reference's elapsed-ms benchmarks measured too (long-lived
    # executors on a real cluster are always warm).
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark.range(1000).count()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.range(20000).select(
        F.md5(
            F.regexp_replace(
                F.trim(F.lower(F.concat(F.lit("x  y "), F.col("id").cast("string")))),
                r"\s+",
                " ",
            )
        ).alias("fp")
    ).groupBy("fp").agg(F.count(F.lit(1))).count()

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(10000).select(_warm(F.col("id"))).count()

    # higher-order functions evaluate interpreted (no whole-stage codegen):
    # warm the aggregate/zip_with/xxhash64 interpreter paths the MinHash
    # signature runs on
    spark.range(2000).select(
        F.aggregate(
            F.array_repeat(F.col("id").cast("string"), 8),
            F.array_repeat(F.lit((1 << 63) - 1).cast("long"), 8),
            lambda acc, s: F.zip_with(
                acc,
                F.array(*[F.xxhash64(s, F.lit(i)) for i in range(8)]),
                lambda a, b: F.least(a, b),
            ),
        ).alias("sig")
    ).count()

    # Interleaved passes: each pass runs every headline query once, so a
    # co-tenant spike or session drift lands on one run of many queries, not
    # on every run of one. Single runs on a shared host swing 2-3x;
    # the median is the signal and every raw run goes to the detail file.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    noise_floor = {"before": _noise_probe(spark), "python_before": _python_floor(spark)}
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    compiles = []
    for i in range(n_passes):
        before = codegen_compiles(spark)
        for name in HEADLINE:
            runs[name].append(_noop_s(spark, fns[name], sf_dir))
        compiles.append(codegen_compiles(spark) - before)
        print(f"# pass {i + 1}/{n_passes} done", file=sys.stderr)
    slow = _slow_queries({name: _median(r) for name, r in runs.items()})
    for _ in range(EXTRA_RUNS):
        for name in slow:
            runs[name].append(_noop_s(spark, fns[name], sf_dir))
    timings = {name: _median(r) for name, r in runs.items()}
    for name, r in runs.items():
        print(f"# {name}: median {timings[name]:.3f}s runs {r}", file=sys.stderr)

    noise_floor["after"] = _noise_probe(spark)
    noise_floor["python_after"] = _python_floor(spark)
    print(f"# noise floor: {noise_floor}", file=sys.stderr)

    # detail-only blocks: a failure here must never cost the round's
    # contract line (stdout JSON) or the headline timings
    try:
        scaling = _scaling_audit(spark, sf_dir, timings)
    except Exception as exc:  # noqa: BLE001
        scaling = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    try:
        curate_stages = _curate_stage_breakdown(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        curate_stages = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    try:
        ingest, matrix = _ingest_benchmarks(spark)
    except Exception as exc:  # noqa: BLE001
        ingest, matrix = {"error": f"{type(exc).__name__}: {exc}"[:300]}, []

    line = _contract_line(timings, sf)
    # Stdout carries ONLY the minimal contract line: a line that also held
    # the runs arrays and the ingest matrix once outgrew the stdout capture
    # and lost a round's timings. Full detail goes to a ROUND-STAMPED side
    # file so no round's raw runs overwrite another's; the round is
    # inferred as max(BENCH_r*.json)+1, the round whose BENCH_r{N}.json is
    # about to be written.
    repo = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.environ.get(
        "SPARK_GRAFT_DETAIL_PATH",
        os.path.join(repo, f"BENCH_DETAIL_r{_current_round(repo):02d}.json"),
    )
    detail = {
        **line,
        "method": (
            f"noop sink, interleaved: median of {n_passes} passes, median of "
            f"{n_passes + EXTRA_RUNS} runs for queries >= {SLOW_S:g} s"
        ),
        "queries_min": {name: min(r) for name, r in runs.items()},
        "queries_max": {name: max(r) for name, r in runs.items()},
        "runs": runs,
        "noise_floor": noise_floor,
        "codegen": _codegen_block(spark, compiles),
        "scaling": scaling,
        "curate_stages": curate_stages,
        "ingest": ingest,
        "ingest_matrix": matrix,
    }
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    print(f"# full detail -> {detail_path}", file=sys.stderr)
    print(json.dumps(line))


def _noop_s(spark, fn, sf_dir: str) -> float:
    """Wall seconds to plan query ``fn`` over ``sf_dir`` and write its whole
    result to the noop sink — the bench's only timed action."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _median(runs: list[float]) -> float:
    return sorted(runs)[len(runs) // 2]


def _slow_queries(medians: dict[str, float]) -> list[str]:
    """The queries that earn EXTRA_RUNS: median at or above SLOW_S."""
    return [name for name, t in medians.items() if t >= SLOW_S]


def _contract_line(timings: dict[str, float], sf: float) -> dict:
    """The stdout contract line: headline total plus per-query medians."""
    return {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }


def _probe(action) -> dict:
    """Wall seconds of ``action`` timed 3x, with their median."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        action()
        runs.append(round(time.perf_counter() - t0, 4))
    return {"runs": runs, "median": sorted(runs)[1]}


def _codegen_block(spark, compiles: list[int]) -> dict:
    """Classes compiled during each headline pass, beside the session's
    generated-code cache cap: once the cache holds the headline's set, a
    pass after the first compiles nothing."""
    return {
        "compiles_per_pass": compiles,
        "cache_max_entries": int(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
    }


def _noise_probe(spark) -> dict:
    """Machine-contention calibration: a fixed reference workload (pure
    JVM aggregate over a generated range — no I/O, no Python workers,
    plan identical every round) timed 3x before and after the headline
    loop. Round-over-round, the headline medians only mean something
    relative to this floor: on this co-tenant box identical code swings
    2-3x between runs, and the probe tells a reader which rounds were
    measured hot."""
    # bit_xor over xxhash64 — real per-row work, no ANSI sum overflow.
    # A fresh DataFrame per run: a second collect of one DataFrame reuses
    # its AQE plan's materialized shuffle and skips the scan.
    return _probe(
        lambda: spark.range(50_000_000).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
    )


def _python_floor_frame(spark):
    """One row in one partition through an Arrow pandas UDF that returns
    its input: one Python task whose UDF does no work."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _same(s):
        return s

    return spark.range(0, 1, numPartitions=1).select(_same("id").alias("id"))


def _python_floor(spark) -> dict:
    """The Arrow/Python boundary's fixed cost: a noop write of
    `_python_floor_frame`, timed 3x before and after the headline loop
    next to the JVM noise probe. It is one job of one Python task, so it
    reads what every Python task pays before its UDF runs (worker setup,
    Arrow stream open and close) plus one job's scheduling."""
    df = _python_floor_frame(spark)
    return _probe(lambda: df.write.format("noop").mode("overwrite").save())


def _current_round(repo: str) -> int:
    """The round whose artifacts are being produced: one past the highest
    BENCH_r{N}.json the driver has already committed. A manual re-run
    AFTER the round's own BENCH_r{N}.json landed would mislabel one
    round ahead — override with SPARK_GRAFT_ROUND for those."""
    import re

    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    return (max(rounds) + 1) if rounds else 1


def _scaling_audit(spark, sf_dir: str, sf01_medians: dict[str, float]):
    """Scaling-slope audit (VERDICT r5 #4): the 100x question, measured.
    Times every headline query ONCE on the noop sink at the sibling
    sf0.001 and sf0.01 dirs (the sf0.1 number is the headline median
    already in hand) and records the wall-time growth ratio across each
    decade of data.

    Reading the ratios: fact tables grow 10x per decade, so a query that
    is linear in data with some fixed overhead shows ratio <= ~10 (the
    overhead — job scheduling, Python-worker round-trips — inflates the
    SMALL-sf denominator, pulling ratios DOWN); `documents`/`embeddings`
    are the same size at sf0.001 and sf0.01 (500/500) and grow 10x/4x to
    sf0.1, same bound. A ratio materially above the decade's data growth
    means super-linear work (e.g. an unguarded quadratic join) — exactly
    what the n-gram inverted index would have shown pre-guard. Flag
    threshold 20 = 2x grace over linear growth. Skipped (with a note)
    when the sibling dirs don't exist. Disable: SPARK_GRAFT_SCALING=0."""
    if os.environ.get("SPARK_GRAFT_SCALING", "1") == "0":
        return {"skipped": "SPARK_GRAFT_SCALING=0"}
    base = os.path.dirname(os.path.abspath(sf_dir.rstrip("/")))
    small_dirs = [os.path.join(base, "sf0.001"), os.path.join(base, "sf0.01")]
    if os.path.abspath(sf_dir.rstrip("/")) in [os.path.abspath(d) for d in small_dirs]:
        # smoke runs point SPARK_GRAFT_SF_DIR at one of the grid dirs;
        # the head median would overwrite that grid point and every
        # ratio would silently read 1.0 (caught by code review)
        return {"skipped": f"headline sf dir {sf_dir} overlaps the scaling grid"}
    if not all(os.path.isdir(d) for d in small_dirs):
        return {"skipped": f"sibling sf dirs missing under {base}"}
    times: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    for d, label in zip(small_dirs, ("0.001", "0.01")):
        for name in HEADLINE:
            # a query failing at one sf must cost that one data point,
            # never the whole round's bench artifact
            try:
                t = _noop_s(spark, ALL_QUERIES[name].fn, d)
            except Exception as exc:  # noqa: BLE001
                errors[f"{name}@sf{label}"] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            times.setdefault(name, {})[label] = t
        print(f"# scaling sweep done: sf{label}", file=sys.stderr)
    head_label = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    ratios = {}
    for name, t in times.items():
        if "0.001" not in t or "0.01" not in t:
            continue
        t[head_label] = sf01_medians[name]
        ratios[name] = {
            "r_01_over_001": round(t["0.01"] / max(t["0.001"], 1e-3), 2),
            "r_1_over_01": round(t[head_label] / max(t["0.01"], 1e-3), 2),
        }
    if not ratios:
        return {
            "skipped": "no query produced both small-sf data points",
            "errors": errors,
        }
    flagged = sorted(
        (
            name
            for name, r in ratios.items()
            if max(r["r_01_over_001"], r["r_1_over_01"]) > 20
        ),
    )
    worst = max(
        ratios, key=lambda n: max(ratios[n]["r_01_over_001"], ratios[n]["r_1_over_01"])
    )
    out = {
        "times": times,
        "ratios": ratios,
        "flag_threshold": 20,
        "flagged_super_linear": flagged,
        "worst_slope": {
            "query": worst,
            "ratio": max(ratios[worst]["r_01_over_001"], ratios[worst]["r_1_over_01"]),
        },
        "errors": errors,
    }
    print(f"# scaling worst slope: {out['worst_slope']}", file=sys.stderr)
    if flagged:
        print(f"# scaling FLAGGED super-linear: {flagged}", file=sys.stderr)
    try:
        out["extra_decade"] = _extra_decade(spark, sf01_medians, errors)
    except Exception as exc:  # noqa: BLE001
        out["extra_decade"] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    return out


# The steepest headline queries from the r6 three-point grid: three points
# fit a slope, four expose a bend (VERDICT r6 #6), so these also run at a
# locally-replicated LARGER sf (scripts/make_scaling_sf.py — 5x sf0.1 via
# key-remapped fact replication, densities held at sf0.1 levels).
STEEP = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "copurchase_pairs",
    "pagerank_copurchase_parts",
    "n1_containment_pairs",
    "n1_curate_pipeline",
]


def _extra_decade(spark, sf01_medians: dict[str, float], errors: dict[str, str]):
    """Fourth scaling point: run the STEEP queries once at the replicated
    sf0.5 dir and report growth vs the sf0.1 headline median. Data grows
    5x, so a linear query shows ratio <= ~5; flag above 10 (the same 2x
    grace the decade grid uses). Skipped quietly if the dir is absent
    (run scripts/make_scaling_sf.py to create it)."""
    repo = os.path.dirname(os.path.abspath(__file__))
    extra_dir = os.environ.get(
        "SPARK_GRAFT_SCALING_EXTRA", os.path.join(repo, ".scaling", "sf0.5")
    )
    if not os.path.isdir(extra_dir):
        return {"skipped": f"{extra_dir} missing (scripts/make_scaling_sf.py)"}
    label = os.path.basename(extra_dir.rstrip("/")).removeprefix("sf")
    data_growth = float(label) / 0.1
    times: dict[str, float] = {}
    ratios: dict[str, float] = {}
    for name in STEEP:
        try:
            times[name] = _noop_s(spark, ALL_QUERIES[name].fn, extra_dir)
        except Exception as exc:  # noqa: BLE001
            errors[f"{name}@sf{label}"] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        if sf01_medians.get(name):
            ratios[name] = round(times[name] / sf01_medians[name], 2)
    flagged = sorted(n for n, r in ratios.items() if r > 2 * data_growth)
    out = {
        "dir": extra_dir,
        "sf": float(label),
        "data_growth_vs_headline": data_growth,
        "times": times,
        "ratio_vs_headline": ratios,
        "flag_threshold": 2 * data_growth,
        "flagged_super_linear": flagged,
    }
    print(f"# extra decade sf{label}: {ratios}", file=sys.stderr)
    if flagged:
        print(f"# extra decade FLAGGED: {flagged}", file=sys.stderr)
    return out


def _curate_stage_breakdown(spark, sf_dir: str) -> dict:
    """Attribute the n1_curate_pipeline composite (VERDICT r5 #6): run its
    curation (`registry.curated_corpus`) once in staged mode with a
    QueryLog and report wall seconds per stage. The staged plan is the
    fused one (same fan-out barriers, same MinHash input width) plus one
    checkpoint per stage, so its sum can still differ from the fused
    headline median by those checkpoints — both are recorded."""
    import shutil
    import tempfile

    from hadoop_stuff_spark.plans import registry
    from hadoop_stuff_spark.plans.qlog import QueryLog

    tmp = tempfile.mkdtemp(prefix="bench_qlog_")
    try:
        qlog = QueryLog(spark, os.path.join(tmp, "qlog"))
        total = _noop_s(
            spark, lambda s, d: registry.curated_corpus(s, d, qlog=qlog), sf_dir
        )
        stages = {
            r.name.removeprefix("curate:"): r.wall_s for r in qlog.table().collect()
        }
        out = {"stages": stages, "staged_total_s": total}
        print(f"# curate stages: {out}", file=sys.stderr)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _ingest_benchmarks(spark):
    """The reference's only real performance artifact is TailFTest's
    numbered ingest protocol (TailFTest.java:100-377): write line records
    through chunk-size x codec variants and compare elapsed/size. This is
    that sweep on the engine's sinks (r3 VERDICT #8):

    - chunked layout (python-gzip line blobs in parquet) at chunk sizes
      200 / 1000 / 10000 — the reference's P5 tradeoff: bigger chunks
      compress better but make coarser split units;
    - plain one-line-per-row parquet under snappy / zstd / gzip — the
      'uncompressed-vs-chunked' axis, with the columnar codecs the
      JVM provides (no python zstd exists in this container; parquet's
      zstd is JVM-side and is the codec a production table would use).

    Each variant records write seconds, records/s, on-disk bytes and a
    full read-back (decode + count) — the canonical 1000-line gzip chunk
    config is also reported as `ingest` for round-over-round continuity.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hadoop_stuff_spark.sources.chunks import read_chunked, write_chunked

    n_rec = 1_000_000
    lines = spark.range(n_rec).select(
        F.concat(
            F.lit("<24> 2012-06-13T00:25:02 {CGN-SET2} flow "),
            F.col("id").cast("string"),
            F.lit(
                " proto 7 application test6 ge-12/0/0.0:156.56.0.124:19972"
                " -> 156.56.0.125:19973 deleting forward"
            ),
        ).alias("value")
    )
    raw_bytes = n_rec * 120  # ~record length; ratio denominator
    matrix: list[dict] = []
    ingest = None
    tmp = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        for chunk_size in (200, 1000, 10000):
            store = os.path.join(tmp, f"chunked_{chunk_size}")
            t0 = time.perf_counter()
            write_chunked(lines, "value", store, chunk_size=chunk_size)
            w = time.perf_counter() - t0
            t0 = time.perf_counter()
            assert read_chunked(spark, store).count() == n_rec
            r = time.perf_counter() - t0
            entry = {
                "layout": "chunked",
                "codec": "gzip",
                "chunk_size": chunk_size,
                "records": n_rec,
                "write_s": round(w, 3),
                "read_s": round(r, 3),
                "records_per_s": round(n_rec / w),
                "bytes": _dir_bytes(store),
                "ratio": round(raw_bytes / max(_dir_bytes(store), 1), 2),
            }
            matrix.append(entry)
            if chunk_size == 1000:
                ingest = {
                    "records": n_rec,
                    "seconds": entry["write_s"],
                    "records_per_s": entry["records_per_s"],
                }
            print(f"# ingest {entry}", file=sys.stderr)
        for codec in ("snappy", "zstd", "gzip"):
            store = os.path.join(tmp, f"plain_{codec}")
            t0 = time.perf_counter()
            lines.write.option("compression", codec).parquet(store)
            w = time.perf_counter() - t0
            t0 = time.perf_counter()
            assert spark.read.parquet(store).count() == n_rec
            r = time.perf_counter() - t0
            entry = {
                "layout": "plain",
                "codec": codec,
                "chunk_size": None,
                "records": n_rec,
                "write_s": round(w, 3),
                "read_s": round(r, 3),
                "records_per_s": round(n_rec / w),
                "bytes": _dir_bytes(store),
                "ratio": round(raw_bytes / max(_dir_bytes(store), 1), 2),
            }
            matrix.append(entry)
            print(f"# ingest {entry}", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"# ingest: {ingest}", file=sys.stderr)
    return ingest, matrix


if __name__ == "__main__":
    main()
