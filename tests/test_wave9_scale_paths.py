"""Round-9 scale-path tests (VERDICT r8 #3/#4): KS bucketed-ECDF
approx form, RFM customer-count auto-switch, and the basket-lift
checkpoint."""

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest  # noqa: F401

# full-sweep suite (see pytest.ini): deselected from the default
# driver-facing run, executed via `pytest tests/ -m "" -q`
pytestmark = pytest.mark.slow


def _events_typed_fixture(tmp_path, rows, name="sf_evt"):
    """(user_id, event_type, second-offset) rows, base epoch + offset s."""
    base_ns = 1_700_000_000 * 1_000_000_000
    n = len(rows)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [base_ns + int(r[2] * 1_000_000_000) for r in rows],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[1] for r in rows]),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    sf = tmp_path / name
    os.makedirs(sf)
    pq.write_table(table, str(sf / "events.parquet"))
    return str(sf)


def test_ks_approx_tracks_exact_and_avoids_rank_window(spark):
    """The bucketed-ECDF form (no per-type rank window — the 100 TB
    shape) must track the exact statistic within grid pitch + slack
    (1/n_probes + sketch/bucket-boundary wobble) and reach the same
    verdicts; its plan carries NO row_number and the only window (the
    gap lag) partitions by (event_type, bucket), not whole types.
    Runs at sf0.01 — the approx form targets DENSE types (sf0.001 has
    ~7 events/type/day, where day bucketing sheds 14% of gaps; the
    gap_bucket parameter exists for exactly that sparse case)."""
    from hadoop_stuff_spark.operators.temporal import ks_interarrival_expfit

    sf = "/root/testdata/sf0.01"
    exact = {r["event_type"]: r for r in ks_interarrival_expfit(spark, sf).collect()}
    approx = {
        r["event_type"]: r
        for r in ks_interarrival_expfit(spark, sf, exact=False).collect()
    }
    assert set(approx) == set(exact)
    for t, e in exact.items():
        a = approx[t]
        # day-boundary gaps are dropped: a few per type at most
        assert e["n_gaps"] * 0.9 <= a["n_gaps"] <= e["n_gaps"]
        # |D̂ − D| ≤ grid pitch (1/99) + sketch/mean-perturbation slack
        assert abs(a["ks_stat"] - e["ks_stat"]) <= 1 / 99 + 0.005
        assert a["reject_exponential"] == e["reject_exponential"]
    plan = (
        ks_interarrival_expfit(spark, sf, exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "row_number" not in plan  # no whole-type ECDF rank sort
    assert "percentile" in plan.lower()  # the mergeable-sketch aggregate
    # the lag window partitions by (event_type, _bucket)
    assert "_bucket" in plan
    # a sparse type wants a coarser bucket: week keeps >99.5% of gaps here
    wk = {
        r["event_type"]: r["n_gaps"]
        for r in ks_interarrival_expfit(
            spark, sf, exact=False, gap_bucket="week"
        ).collect()
    }
    for t, e in exact.items():
        assert wk[t] >= e["n_gaps"] * 0.995


def test_ks_approx_fixture_verdicts(spark, tmp_path):
    """Same planted distributions as the exact-path test: the metronome's
    single ECDF step reads D̂ ≈ 0.632 − 1/99 on the grid (still a loud
    reject); the true exponential stays under the critical value. The
    approx form under-reads, so it can never reject where exact accepts."""
    from hadoop_stuff_spark.operators.temporal import ks_interarrival_expfit

    rows = [(1, "tick", i * 60.0) for i in range(101)]  # 100 equal gaps
    t = 0.0
    exp_rows = [(2, "poisson", 0.0)]
    for k in range(100):
        u = (k + 0.5) / 100
        t += -60.0 * math.log(1 - u)
        exp_rows.append((2, "poisson", t))
    sf = _events_typed_fixture(tmp_path, rows + exp_rows, "sf_ks_apx")
    out = {
        r["event_type"]: r
        for r in ks_interarrival_expfit(spark, sf, exact=False).collect()
    }
    assert out["tick"]["reject_exponential"]
    # every probe quantile is the single 60 s step: sup over the grid is
    # max_j |p_j − (1 − e⁻¹)| = (1 − e⁻¹) − 1/99
    assert abs(out["tick"]["ks_stat"] - ((1 - math.exp(-1)) - 1 / 99)) < 0.01
    assert not out["poisson"]["reject_exponential"]


def test_rfm_auto_switch_resolves_by_customer_count(spark, sf_dir):
    """exact=None (the default) picks the oracle-certified ntile form
    while the customer relation fits one sort task, and the sortless
    sketch form past the threshold — so the default never runs three
    un-partitioned ntile sorts on a warehouse-scale corpus."""
    from hadoop_stuff_spark.operators.relational import _rfm_scored

    plan_small = (
        _rfm_scored(spark, sf_dir, 5, None, 10_000_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile(5)" in plan_small  # auto resolves exact under threshold
    plan_big = (
        _rfm_scored(spark, sf_dir, 5, None, 0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile(5)" not in plan_big  # past threshold: sketch cuts
    assert "Window" not in plan_big  # and no window sort at all


def test_rfm_approx_scores_stay_within_exact_tie_span(spark, sf_dir):
    """Bounded deviation, score-level (the quantnorm/decile convention):
    ntile splits a tied value class across adjacent tiles by the custkey
    tie-break while the sketch-cut form puts the whole class in one tile,
    so for every customer the approx score must land inside the EXACT
    score span of customers sharing that value, ±1 for the equal-height
    remainder wobble at cut boundaries."""
    from hadoop_stuff_spark.operators.relational import _rfm_scored

    exact = _rfm_scored(spark, sf_dir, 5, True, 0).toPandas()
    approx = _rfm_scored(spark, sf_dir, 5, False, 0).toPandas()
    assert len(exact) == len(approx)
    for val_col, score_col in [
        ("recency_days", "r_score"),
        ("n_orders", "f_score"),
        ("cents", "m_score"),
    ]:
        span = exact.groupby(val_col)[score_col].agg(["min", "max"])
        a = approx.set_index("o_custkey")
        e = exact.set_index("o_custkey")
        for ck in e.index:
            lo, hi = span.loc[e.loc[ck, val_col]]
            assert lo - 1 <= a.loc[ck, score_col] <= hi + 1, (
                f"{score_col} for customer {ck}: approx "
                f"{a.loc[ck, score_col]} outside exact tie span [{lo},{hi}]±1"
            )


def test_basket_lift_checkpoint_leaves_no_rescan(spark, sf_dir):
    """The eager checkpoint of the distinct basket relation runs the
    lineitem scan once, at construction: the compiled plan holds ZERO
    FileScans, and the readout is non-empty."""
    from hadoop_stuff_spark.operators.relational import basket_affinity_lift

    df = basket_affinity_lift(spark, sf_dir, min_support=2)
    assert df._jdf.queryExecution().executedPlan().toString().count("FileScan") == 0
    assert len(df.collect()) > 0


def _docs_fixture(tmp_path, rows, name):
    """(doc_id, source, text) documents table."""
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "source": pa.array([r[1] for r in rows]),
            "text": pa.array([r[2] for r in rows]),
            "n_chars": pa.array([len(r[2]) for r in rows], pa.int64()),
        }
    )
    sf = tmp_path / name
    os.makedirs(sf)
    pq.write_table(table, str(sf / "documents.parquet"))
    return str(sf)


def test_minhash_calibration_zero_shingle_docs_hit_the_guard_not_a_join(
    spark, tmp_path
):
    """ADVICE r8: docs shorter than n words have ZERO shingles but still
    produce LSH candidates (their degenerate sentinel signatures agree in
    every band, est 1.0). The size joins are LEFT now: such a pair is
    excluded only by the explicit n_union > 0 guard (both-empty →
    Jaccard undefined), never silently by an inner join — and a real
    pair in the same band stays counted with its exact Jaccard."""
    from hadoop_stuff_spark.operators.dedup import (
        minhash_calibration,
        minhash_candidates,
    )
    from hadoop_stuff_spark.catalog import load_table

    rows = [
        (1, "a", "tiny doc"),  # 2 words → 0 3-shingles
        (2, "a", "small one"),  # 2 words → 0 3-shingles
        (3, "a", " ".join(f"w{i}" for i in range(40))),
        (4, "a", " ".join(f"w{i}" for i in range(40))),  # dup of 3
    ]
    sf = _docs_fixture(tmp_path, rows, "sf_zshingle")
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidates(load_table(spark, sf, "documents")).collect()
    }
    assert (1, 2) in cands  # the degenerate pair IS a candidate
    assert (3, 4) in cands
    rep = {r["est_band"]: r for r in minhash_calibration(spark, sf).collect()}
    # only the real pair survives the Jaccard-undefined guard
    assert sum(r["n_pairs"] for r in rep.values()) == len(cands) - 1
    assert rep[9]["n_pairs"] == 1 and rep[9]["mean_exact"] == 1.0


def test_decayed_topk_hand_computed_and_fresh_beats_stale(spark, tmp_path):
    """Batch counterpart of the streaming decayed heavy hitters: 8 'stale'
    events three half-lives before the anchor decay to 8·2⁻³ = 1.0, so a
    type with 3 fresh events (weight 3.0) must outrank it — while raw
    counts would order them the other way. Weights are exact powers of
    two (6 dp fixed-point, no float drift)."""
    from hadoop_stuff_spark.operators.temporal import decayed_event_type_topk

    h = 3600.0  # half-life 1 h (as hours param: 1.0)
    rows = [(1, "stale", 0.0)] * 8 + [(2, "fresh", 3 * h)] * 3
    sf = _events_typed_fixture(tmp_path, rows, "sf_decay")
    out = [
        (r["event_type"], r["n_events"], r["decayed_weight"])
        for r in decayed_event_type_topk(spark, sf, half_life_hours=1.0).collect()
    ]
    assert out == [("fresh", 3, 3.0), ("stale", 8, 1.0)]


def test_dedup_rate_by_batch_planted_trend(spark, tmp_path):
    """Source A goes stale: batch 0 is all-fresh, batch 1 re-ingests
    batch-0 content (100% dup); source B stays fresh throughout. The
    first occurrence is never a dup (canonical-min rule), the batch
    rates isolate the regression, and the cumulative columns integrate
    it."""
    from hadoop_stuff_spark.operators.dedup import n1_dedup_rate_by_batch

    rows = (
        [(i, "A", f"alpha text number {i}") for i in range(4)]  # batch 0 fresh
        + [(100 + i, "A", f"alpha text number {i}") for i in range(4)]  # rerun
        + [(10, "B", "beta one"), (110, "B", "beta two")]  # fresh both batches
    )
    sf = _docs_fixture(tmp_path, rows, "sf_duprate")
    out = {
        (r["source"], r["ingest_batch"]): r
        for r in n1_dedup_rate_by_batch(spark, sf, batch_size=100).collect()
    }
    assert out[("A", 0)]["dup_rate"] == 0.0
    assert out[("A", 1)]["dup_rate"] == 1.0
    assert out[("A", 1)]["cum_dup_rate"] == 0.5  # 4 dups / 8 docs
    assert out[("B", 0)]["dup_rate"] == 0.0 and out[("B", 1)]["dup_rate"] == 0.0
    assert out[("A", 1)]["cum_docs"] == 8 and out[("A", 1)]["cum_dups"] == 4


def test_ivf_recall_curve_monotone_and_complete_at_full_width(spark, sf_dir):
    """Recall@10 must be non-decreasing in probe width and EXACTLY 1.0
    when every cell is probed (full probe = brute force by construction
    — same candidates, same tie order)."""
    from hadoop_stuff_spark.operators.similarity import n2_ivf_recall_curve

    rows = n2_ivf_recall_curve(spark, sf_dir).collect()
    widths = [r["n_probe"] for r in rows]
    recalls = [r["recall_at_k"] for r in rows]
    assert widths == sorted(widths) == [1, 2, 4, 8, 16]
    assert all(b >= a for a, b in zip(recalls, recalls[1:]))  # monotone
    # full width reads 1.0 BY CONSTRUCTION now (the truth set is the
    # sentinel full-width slice of the same pass) — the non-tautological
    # equivalence to the certified brute-force operator is pinned by
    # test_ivf_full_probe_equals_bruteforce below
    assert recalls[-1] == 1.0
    assert all(r["n_queries"] == 5 for r in rows)


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """The claim the recall curve's internal truth set rests on: probing
    EVERY cell through the shared quantizer UDFs yields exactly the
    certified brute-force top-k (same candidates, same 6 dp rounding,
    same (sim desc, vec_id) tie order) — pinned externally so the
    curve's recall=1.0 anchor is not self-referential."""
    from hadoop_stuff_spark.operators.similarity import (
        topk_cosine_bruteforce,
        topk_cosine_ivf,
    )

    brute = {
        (r["query_id"], r["rk"]): (r["vec_id"], r["sim"])
        for r in topk_cosine_bruteforce(spark, sf_dir).collect()
    }
    full = {
        (r["query_id"], r["rk"]): (r["vec_id"], r["sim"])
        for r in topk_cosine_ivf(spark, sf_dir, n_probe=16, n_cells=16).collect()
    }
    assert full == brute


def test_cross_source_dup_matrix_planted_edges_and_zero_grid(spark, tmp_path):
    """A copies one doc from B twice and re-ingests one of its own docs;
    C is clean. The matrix reports the A→B edge (2 dups), the A→A
    diagonal (1), shares over A's 5 docs, and EXPLICIT zeros for every
    other cell of the 3×3 grid (clean ≠ empty)."""
    from hadoop_stuff_spark.operators.dedup import n1_cross_source_dup_matrix

    rows = [
        (1, "B", "the original syndicated article body"),
        (10, "A", "the original syndicated article body"),  # copy of B's
        (11, "A", "the original syndicated article body"),  # copy of B's
        (12, "A", "a genuinely new piece of text"),
        (13, "A", "a genuinely new piece of text"),  # re-ingest of own
        (14, "A", "something else entirely here"),
        (20, "C", "clean source content"),
    ]
    sf = _docs_fixture(tmp_path, rows, "sf_xsrc")
    out = {
        (r["dup_source"], r["canonical_source"]): r
        for r in n1_cross_source_dup_matrix(spark, sf).collect()
    }
    assert len(out) == 9  # full 3x3 grid
    assert out[("A", "B")]["n_dups"] == 2
    assert out[("A", "B")]["dup_share"] == 0.4  # 2 of A's 5 docs
    assert out[("A", "A")]["n_dups"] == 1
    assert out[("A", "A")]["dup_share"] == 0.2
    zeros = {k for k, r in out.items() if r["n_dups"] == 0}
    assert zeros == set(out) - {("A", "B"), ("A", "A")}
    assert all(out[z]["dup_share"] == 0.0 for z in zeros)


def _embeddings_fixture(tmp_path, rows, name):
    """(vec_id, label, list-of-float embedding) embeddings table."""
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[2] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    sf = tmp_path / name
    os.makedirs(sf)
    pq.write_table(table, str(sf / "embeddings.parquet"))
    return str(sf)


def test_label_centroid_drift_hand_computed(spark, tmp_path):
    """Two orthogonal unit-vector labels: corpus mean is the midpoint, so
    each label's cosine to it is exactly 1/√2 ≈ 0.707107 and each
    centroid norm is 1.0; a third label ON the corpus mean direction
    reads cosine 1.0. Totals: n_vecs per label exact."""
    from hadoop_stuff_spark.operators.similarity import n2_label_centroid_drift

    e1 = [1.0, 0.0]
    e2 = [0.0, 1.0]
    mid = [0.5, 0.5]
    rows = [
        (0, 0, e1),
        (1, 0, e1),
        (2, 1, e2),
        (3, 1, e2),
        (4, 2, mid),
        (5, 2, mid),
    ]
    sf = _embeddings_fixture(tmp_path, rows, "sf_cdrift")
    out = {r["label"]: r for r in n2_label_centroid_drift(spark, sf).collect()}
    assert set(out) == {0, 1, 2}
    assert all(r["n_vecs"] == 2 for r in out.values())
    assert out[0]["centroid_norm"] == 1.0 and out[1]["centroid_norm"] == 1.0
    # corpus mean over [e1, e1, e2, e2, mid, mid] = (3/6, 3/6) = (0.5, 0.5),
    # |corpus| = 1/√2 → cos(e_i, corpus) = 0.5 / (1 · 1/√2) = 1/√2
    assert out[0]["cos_to_corpus"] == out[1]["cos_to_corpus"] == 0.707107
    assert out[2]["cos_to_corpus"] == 1.0  # label 2 IS the corpus direction


def test_ks_approx_reports_bucket_starved_types_not_drops_them(
    spark, tmp_path
):
    """r9 review finding: a type firing once per day has EVERY gap
    bucketed away under gap_bucket='day' — it must still appear in the
    report (n_gaps 0, NULL stat/verdict), never silently vanish; a
    coarser bucket then covers it. A dense type in the same corpus is
    unaffected."""
    from hadoop_stuff_spark.operators.temporal import ks_interarrival_expfit

    day = 86400.0
    rows = [(1, "daily", i * day) for i in range(10)]  # 1 event/day
    rows += [(2, "dense", i * 60.0) for i in range(50)]  # 1/minute
    sf = _events_typed_fixture(tmp_path, rows, "sf_ks_sparse")
    out = {
        r["event_type"]: r
        for r in ks_interarrival_expfit(spark, sf, exact=False).collect()
    }
    assert set(out) == {"daily", "dense"}  # sparse type NOT dropped
    assert out["daily"]["n_gaps"] == 0
    assert out["daily"]["ks_stat"] is None
    assert out["daily"]["reject_exponential"] is None
    assert out["dense"]["n_gaps"] == 49  # dense type unaffected
    # coarser bucket covers the sparse type: 10 daily events in one
    # month-bucket -> 9 gaps
    wk = {
        r["event_type"]: r
        for r in ks_interarrival_expfit(
            spark, sf, exact=False, gap_bucket="month"
        ).collect()
    }
    assert wk["daily"]["n_gaps"] == 9
    assert wk["daily"]["ks_stat"] is not None
