"""Plan-shape assertions — the scale contract (SCALE.md) pinned as tests:
filters push to the scan, projections prune the read schema, grep never
shuffles, top-k never global-sorts, dims broadcast."""

from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_grep_is_shuffle_free(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plan = _plan(ev.filter(F.col("props").rlike("error")).select("event_id"))
    assert "Exchange" not in plan, plan


def test_comparison_filter_pushed_to_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plan = _plan(li.filter(F.col("l_quantity") >= 45).select("l_orderkey"))
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(l_quantity" in plan, plan


def test_projection_prunes_read_schema(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plan = _plan(li.select("l_orderkey", "l_quantity"))
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_shipdate" not in rs, rs


def test_topk_never_global_sorts(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    plan = _plan(orders.orderBy(F.desc("o_totalprice")).limit(5))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no standalone global sort operator


def test_dim_join_broadcasts(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    plan = _plan(cust.join(nation, cust.c_nationkey == nation.n_nationkey))
    assert "BroadcastHashJoin" in plan, plan


def test_candidate_pair_pipelines_have_no_final_sort(spark, sf_dir):
    """VERDICT r1 #7: the near-dup candidate-pair pipelines must not end in
    a presentation-only global Exchange+Sort (at scale that's a full
    re-shuffle of every candidate pair)."""
    from hadoop_stuff_spark.operators import dedup

    import re

    for fn in (
        dedup.minhash_near_dups,
        dedup.simhash_near_dups,
        dedup.embedding_cosine_dups_lsh,
    ):
        plan = _plan(fn(spark, sf_dir))
        # no GLOBAL sort: neither a range-partition exchange nor a
        # Sort [...], true operator (local sorts inside SortAggregate are
        # per-partition and fine)
        assert "rangepartitioning" not in plan.lower(), (fn.__name__, plan)
        assert not re.search(r"Sort \[[^\]]*\], true", plan), (fn.__name__, plan)


def test_aggregate_is_partial_then_final(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plan = _plan(ev.groupBy("event_type").agg(F.count(F.lit(1))))
    # two HashAggregates (partial + final) around a single exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1, plan


def test_repetition_signals_is_shuffle_free(spark, sf_dir):
    """Repetition scoring computes per-doc histograms inside the row (HOF
    transform/filter) — a map-only scan; any Exchange would mean the
    explode+groupBy anti-pattern crept back in."""
    from hadoop_stuff_spark.operators import textstats

    plan = _plan(textstats.repetition_signals(spark, sf_dir))
    # the only allowed Exchange is spread()'s round-robin parallelism shim
    # for the tiny local testdata; no hash/range (i.e. data-dependent)
    # shuffle may appear
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_contamination_probe_broadcasts_holdout(spark, sf_dir):
    """The held-out benchmark's shingles are tiny vs the corpus: the probe
    must be a broadcast hash join (map-side), never a sort-merge join that
    shuffles the exploded corpus shingles by value."""
    from hadoop_stuff_spark.operators import contamination

    plan = _plan(contamination.contamination_report(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_shard_key_is_map_only(spark, sf_dir):
    from hadoop_stuff_spark.operators.shards import shard_key

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(docs.select(shard_key("doc_id", 8).alias("s")))
    assert "Exchange" not in plan, plan


def test_q8_broadcasts_every_dim(spark, sf_dir):
    """Q8's only fact-sized shuffle should be the lineitem<->orders join;
    part/customer/supplier/nation/region all broadcast."""
    from hadoop_stuff_spark.operators.relational import q8_nation_market_share

    plan = _plan(q8_nation_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # exactly one sort-merge or shuffled-hash join at most (fact-fact)
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1, plan


def test_pq_topk_single_python_stage_and_broadcast_rerank(spark, sf_dir):
    """The PQ pipeline's scale contract: ONE fused Python pass over the
    corpus (encode+ADC+partial top-k in mapInPandas), and the exact
    re-rank joins via broadcast (candidate list is tiny) — the corpus is
    never shuffled for the re-rank."""
    from hadoop_stuff_spark.operators.pq import topk_cosine_pq

    plan = _plan(topk_cosine_pq(spark, sf_dir))
    assert plan.count("MapInPandas") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sketch_rollup_shuffles_sketch_bytes_not_users(spark, sf_dir):
    """The HLL rollup's shuffle carries per-cell sketches (one partial
    HashAggregate with hll_sketch_agg below the exchange), never raw
    user_ids: partial_hllsketchagg must appear BELOW the exchange."""
    from hadoop_stuff_spark.operators.sketches import sketch_distinct_users_by_type

    plan = _plan(sketch_distinct_users_by_type(spark, sf_dir))
    lower = plan.lower()
    # plan prints top-down: the partial sketch agg must sit BELOW (after)
    # the last exchange, i.e. map-side against the scan
    last_exchange = lower.rindex("exchange")
    assert "partial_hll_sketch_agg" in lower[last_exchange:], plan


def test_bm25_topk_is_take_ordered_with_broadcast_stats(spark, sf_dir):
    """The BM25 ranking contract's physical shape: global top-k planned as
    TakeOrderedAndProject (per-partition heaps, no global Sort of all
    scored rows) and the 1-row corpus-stats frame joined by broadcast."""
    from hadoop_stuff_spark.operators.textstats import n3_bm25_topk

    plan = _plan(n3_bm25_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_oov_vocab_broadcasts_and_text_rides_no_keyed_shuffle(spark, sf_dir):
    """OOV rollup: the top-k vocabulary reaches the token scan as a
    broadcast build side, and no KEYED (hashpartitioning) Exchange
    includes the text column — Exchange lines print their partitioning
    expressions, so this assertion is meaningful for keyed shuffles.
    (The RoundRobin respread from catalog.spread DOES carry text on this
    single-row-group local data; that redistribution is the documented
    small-file exception and a no-op at scale, so it is exempted here.)"""
    from hadoop_stuff_spark.operators.textstats import n3_oov_rate_by_source

    plan = _plan(n3_oov_rate_by_source(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    import re

    for clause in re.findall(r"hashpartitioning\([^)]*\)", plan):
        assert "text" not in clause, clause


def test_repeated_ngrams_topk_never_global_sorts(spark, sf_dir):
    from hadoop_stuff_spark.operators.dedup import n1_repeated_ngrams

    plan = _plan(n1_repeated_ngrams(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
