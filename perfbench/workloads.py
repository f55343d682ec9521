"""The three workloads. Each takes the shared ``Bench`` and, in order:
builds its inputs from the seed, warms up with a fixed number of ops,
runs the timed phase, then checks every output outside the timed window.

In the traced run (``--trace 1``) each cycle also runs its op once with
tracing off (for the tracing overhead) and then calls each layer's public
function on checkpointed inputs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq

import gen
import sysstats
from hadoop_stuff_spark.catalog import spread
from hadoop_stuff_spark.engine import Engine
from hadoop_stuff_spark.functions import text as T
from hadoop_stuff_spark.functions.codecs import gzip_decompress_str
from hadoop_stuff_spark.operators import textstats
from hadoop_stuff_spark.operators.cleaning import clean_text
from hadoop_stuff_spark.operators.clusters import dedup_clusters
from hadoop_stuff_spark.operators.contamination import overlap_report
from hadoop_stuff_spark.operators.counts import chunked_record_count
from hadoop_stuff_spark.operators.dedup import (
    drop_exact_duplicates,
    minhash_candidates,
    shingles,
)
from hadoop_stuff_spark.operators.grep import grep
from hadoop_stuff_spark.operators.sampling import split_corpus
from hadoop_stuff_spark.plans.qlog import QueryLog
from hadoop_stuff_spark.sources.chunks import read_chunked, write_chunked
from sysstats import median

# fixed warm-up: the first calls pay JIT, codegen and Python-worker start
LOG_WARMUP_CYCLES = 2
CURATE_WARMUP_CALLS = 3
# a warm curate/textsig pair takes ~5.5 s; with three, one slow op stays out of the median
CURATE_MIN_PAIRS = 3


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def checkpoint(df):
    return df.localCheckpoint(eager=True)


def parquet_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files if f.endswith(".parquet"))
    return total


def timed_loop(b, cycle, min_cycles: int = 1) -> None:
    """Closed loop of one caller: run ``cycle(i)`` until ``--seconds`` have
    passed and at least ``min_cycles`` cycles ran (one in the traced run,
    whose cycles also call every layer); record the phase's wall time and
    the process tree's CPU over it."""
    if b.tracer.enabled:
        min_cycles = 1
    pids = sysstats.process_tree()
    cpu0 = sysstats.tree_cpu_s(pids)
    t0 = time.perf_counter()
    i = 0
    while i < min_cycles or time.perf_counter() - t0 < b.seconds:
        cycle(i)
        i += 1
    b.timed_wall_s = time.perf_counter() - t0
    b.timed_cpu_s = sysstats.tree_cpu_s(sysstats.process_tree()) - cpu0


def finish(b, records: int, main: str, side: str) -> None:
    """The end-to-end metrics, from the timed phase's ``records`` (input
    records completed), wall time and CPU, and the op types that play the
    main and side roles."""
    b.put("setup_s", b.setup_s, "s")
    b.put("throughput_rps", records / b.timed_wall_s, "1/s")
    b.put("cpu_ms_per_krec", b.timed_cpu_s * 1e3 / (records / 1e3), "ms")
    b.put("peak_rss_mb", sysstats.hwm_rss_mb(), "MB")
    b.put("main_op_p50_ms", b.metrics[f"{main}_p50_ms"][0], "ms")
    b.put("side_op_p50_ms", b.metrics[f"{side}_p50_ms"][0], "ms")
    b.put("session.start_s", b.session_start_s, "s")
    b.calibration.append(b.calibrate())
    b.put("bench.calibration_s", sorted(b.calibration)[0], "s")


def tracing_overhead(b, kind: str) -> None:
    traced = b.samples.get(kind, [])
    untraced = b.samples.get(f"{kind}_untraced", [])
    if traced and untraced:
        b.put("trace.overhead_ms", median(traced) - median(untraced), "ms")


def run_op(b, kind: str, fn, timed: bool = True):
    """In the traced run, bracket the traced op with two untraced runs of
    the same engine call (no spans or counters), so the tracing overhead is
    measured in-process and a warm-up trend cancels out."""
    if not (timed and b.tracer.enabled):
        return b.op(kind, fn, timed)

    def untraced() -> None:
        b.tracer.enabled = False
        b.op(f"{kind}_untraced", fn)
        b.tracer.enabled = True

    untraced()
    out = b.op(kind, fn)
    untraced()
    return out


# --------------------------------------------------------------------------
# log_ingest_grep


def log_ingest_grep(b) -> None:
    eng = Engine(b.spark)
    n_lines = 3_000 if b.tiny else 30_000
    inputs = os.path.join(b.work, "inputs")
    os.makedirs(inputs)
    pool = [
        gen.write_log_batch(os.path.join(inputs, f"batch{i}.txt"), b.seed * 1000 + i, n_lines)
        for i in range(LOG_WARMUP_CYCLES)
    ]
    if b.args.plant_wrong:
        pool[0].needles += 1

    def query(store: str) -> tuple[int, int]:
        needles = eng.grep_count(store, gen.NEEDLE_RE).collect()[0]["match_count"]
        records = eng.record_count(store).collect()[0]["record_count"]
        noop(eng.grep(store, gen.HOT_IP_RE))
        return needles, records

    def cycle(i: int, timed: bool = True) -> None:
        batch = pool[i % len(pool)]
        store = os.path.join(b.work, f"store{i}")
        run_op(b, "ingest", lambda: eng.ingest(batch.path, store), timed)
        got = run_op(b, "query", lambda: query(store), timed)
        want = (batch.needles, batch.lines)
        b.check(f"cycle{i}.needles_records", got == want, f"got {got}, want {want}")
        if not timed:
            # the IP grep's rows, counted outside the timed window
            hot = eng.grep(store, gen.HOT_IP_RE).count()
            b.check(f"cycle{i}.hot_ip_rows", hot == batch.hot_ip, f"got {hot}, want {batch.hot_ip}")
        elif b.tracer.enabled:
            log_layers(b, batch, store)
        shutil.rmtree(store, ignore_errors=True)

    # one warm-up cycle per pool batch, so each batch's IP grep is checked
    for i in range(LOG_WARMUP_CYCLES):
        cycle(i, timed=False)
    b.setup_done()
    timed_loop(b, cycle)
    b.put_latency("ingest")
    b.put_latency("query")
    cycles = len(b.samples.get("query", [])) or 1
    finish(b, cycles * n_lines, "query", "ingest")
    if b.tracer.enabled:
        b.put_counters("ingest")
        b.put_counters("query")
        tracing_overhead(b, "query")


def log_layers(b, batch, store: str) -> None:
    spark = b.spark
    keep = set(b.sc._jsc.getPersistentRDDs().keySet())
    lines = checkpoint(spark.read.text(batch.path))
    layer_store = store + "_layer"
    b.layer_call("sources.chunks.write_s", lambda: write_chunked(lines, "value", layer_store, 1000))
    b.layer_call("sources.chunks.read_s", lambda: noop(read_chunked(spark, store, "value")))
    b.layer_call(
        "functions.codecs.decode_s",
        lambda: noop(spark.read.parquet(store).select(gzip_decompress_str("value"))),
    )
    b.layer_call("operators.grep.scan_s", lambda: noop(grep(lines, gen.HOT_IP_RE, "value")))
    b.layer_call(
        "operators.counts.chunked_count_s",
        lambda: chunked_record_count(spark.read.parquet(store)).collect(),
    )
    b.put("operators.grep.matches", grep(lines, gen.HOT_IP_RE, "value").count(), "count")
    b.put("sources.chunks.stored_bytes_per_record", parquet_bytes(store) / batch.lines, "B")
    shutil.rmtree(layer_store, ignore_errors=True)
    release_checkpoints(b, keep)


def release_checkpoints(b, keep: set[int]) -> None:
    """Drop the blocks of checkpoints a layer call made, so they do not
    show up in the next op's ``cached_rdds``."""
    rdds = b.sc._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet()):
        if rid not in keep:
            rdds.get(rid).unpersist(False)


# --------------------------------------------------------------------------
# corpus_curate

WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def corpus_hash(rows) -> str:
    h = hashlib.md5()
    for r in sorted((r["doc_id"], r["split"], r["text"]) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def corpus_curate(b) -> None:
    eng = Engine(b.spark)
    spark = b.spark
    n_docs, doc_tokens = (60, 24) if b.tiny else (150, 44)
    corpus = gen.make_corpus(b.seed, n_docs, doc_tokens)
    sf = os.path.join(b.work, "corpus")
    gen.write_docs(os.path.join(sf, "documents.parquet"), corpus.docs)
    gen.write_docs(os.path.join(b.work, "holdout", "documents.parquet"), corpus.holdout)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    holdout = spark.read.parquet(os.path.join(b.work, "holdout", "documents.parquet"))
    if b.args.plant_wrong:
        corpus.plain.append(corpus.contaminated[0])

    def curate() -> None:
        noop(eng.curate(docs, holdout))

    def textsig() -> None:
        noop(textstats.winnowed_fingerprints(spark, sf))
        noop(textstats.repetition_signals(spark, sf))

    # warm-up, collected and checked: the first calls pay JIT, codegen and
    # Python-worker start. textsig is flat from its second call; curate,
    # ~40 Spark stages of mostly fixed cost, is still ~20 % slower on its
    # second and third calls than later, so it warms up longer.
    warm = []
    for n in range(CURATE_WARMUP_CALLS):
        warm.append(b.op("curate", lambda: eng.curate(docs, holdout).collect(), timed=False) or [])
        if n == 0:
            check_curated(b, corpus, warm[0])
            sigs = b.op(
                "textsig",
                lambda: [
                    textstats.winnowed_fingerprints(spark, sf).collect(),
                    textstats.repetition_signals(spark, sf).collect(),
                ],
                timed=False,
            ) or [[], []]
            check_textsig_oracle(b, sf, sigs)
    # the same call gives the same corpus every time
    fused_hash = corpus_hash(warm[0])
    b.outputs["curate_hash"] = fused_hash
    for n, rows in enumerate(warm[1:], 2):
        h = corpus_hash(rows)
        b.check(f"curate.repeatable.call{n}", h == fused_hash, f"{h} vs {fused_hash}")
    staged_hashes: list[str] = []

    def cycle(i: int) -> None:
        run_op(b, "curate", curate)
        run_op(b, "textsig", textsig)
        if b.tracer.enabled:
            staged_hashes.append(curate_layers(b, eng, docs, holdout, sf))

    b.setup_done()
    timed_loop(b, cycle, CURATE_MIN_PAIRS)
    b.put_latency("curate")
    b.put_latency("textsig")
    pairs = len(b.samples.get("curate", [])) or 1
    finish(b, 2 * pairs * n_docs, "curate", "textsig")
    if b.tracer.enabled:
        b.put_counters("curate")
        b.put_counters("textsig")
        tracing_overhead(b, "curate")

    for h in staged_hashes:
        b.check("curate.staged_equals_fused", h == fused_hash, f"{h} vs {fused_hash}")


def check_curated(b, corpus, rows) -> None:
    """Planted rows: one copy per exact-duplicate group, no contaminated or
    spam doc, every unplanted doc."""
    kept = {r["doc_id"] for r in rows}
    bad = [g for g in corpus.exact_groups if len(kept.intersection(g)) != 1]
    b.check("curate.exact_dups_removed", not bad, f"groups not reduced to one: {bad[:3]}")
    left = kept.intersection(corpus.contaminated)
    b.check("curate.contaminated_removed", not left, f"survived: {sorted(left)[:5]}")
    left = kept.intersection(corpus.spam)
    b.check("curate.spam_removed", not left, f"survived: {sorted(left)[:5]}")
    lost = set(corpus.plain) - kept
    b.check("curate.plain_kept", not lost, f"dropped: {sorted(lost)[:5]}")
    near = sum(len(kept.intersection(g)) == 1 for g in corpus.near_groups)
    b.put("curate.near_groups_reduced", near, "count")


def check_textsig_oracle(b, sf: str, outputs) -> None:
    """``textsig`` output against the registry's DuckDB oracle SQL."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf, 'documents.parquet')}')"
    )
    for name, rows, sql in zip(
        ("winnow", "repetition"), outputs, (textstats.WINNOW_SQL, textstats.REPETITION_SQL)
    ):
        got = sorted(tuple(r) for r in rows)
        want = sorted(con.execute(sql).fetchall())
        ok = len(got) == len(want) and all(
            len(g) == len(w) and all(same_value(x, y) for x, y in zip(g, w))
            for g, w in zip(got, want)
        )
        diff = next((f"{g} vs {w}" for g, w in zip(got, want) if g != w), "")
        b.check(f"textsig.{name}_oracle", ok, f"{len(got)} vs {len(want)} rows; {diff}")
    con.close()


def same_value(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        return x is not None and y is not None and abs(x - y) <= 1e-9
    return x == y


def curate_layers(b, eng, docs, holdout, sf: str) -> str:
    """Each layer's public function on checkpointed input, then
    ``Engine.curate`` in its staged mode (``qlog``): the same pipeline, one
    materialized and timed stage at a time. Records the stages' summed wall
    time and returns the staged output's hash."""
    spark = b.spark
    keep = set(b.sc._jsc.getPersistentRDDs().keySet())
    wide = max(
        spark.sparkContext.defaultParallelism, int(spark.conf.get("spark.sql.shuffle.partitions"))
    )
    base = checkpoint(spread(docs))
    call = b.layer_call
    winnow = T.winnow_fingerprints("text", k=3, w=4)
    call("functions.text.winnow_s", lambda: noop(base.select(winnow)))
    bigram_top = T.top_element_count(T.bigrams("text"))
    call("functions.text.bigram_top_s", lambda: noop(base.select(bigram_top)))
    call("operators.textstats.winnowed_s", lambda: noop(textstats.winnowed_fingerprints(spark, sf)))
    call("operators.textstats.repetition_s", lambda: noop(textstats.repetition_signals(spark, sf)))
    call("operators.dedup.shingles_s", lambda: noop(base.select(shingles("text", 3))))

    cleaned = call(
        "operators.cleaning.clean_s",
        lambda: checkpoint(base.withColumn("text", clean_text("text"))),
    )
    call("operators.dedup.exact_s", lambda: noop(drop_exact_duplicates(cleaned, "text")))
    # spread over the cores, as the MinHash pass reads it inside curate
    exact = checkpoint(drop_exact_duplicates(cleaned, "text").repartition(wide))
    pairs = call(
        "operators.dedup.minhash_s",
        lambda: checkpoint(minhash_candidates(exact, "doc_id", "text")),
    )
    call("operators.clusters.dedup_clusters_s", lambda: noop(dedup_clusters(pairs)))
    call(
        "operators.contamination.overlap_s",
        lambda: noop(overlap_report(exact, holdout, "text", "doc_id", n=3)),
    )
    call("operators.sampling.split_s", lambda: noop(split_corpus(exact, "doc_id", WEIGHTS)))

    qlog_dir = os.path.join(b.work, f"qlog{len(b.layer.get('curate.staged_sum_ms', []))}")
    digest = corpus_hash(eng.curate(docs, holdout, qlog=QueryLog(spark, qlog_dir)).collect())
    stages = pq.read_table(qlog_dir).column("wall_s").to_pylist()
    b.layer.setdefault("curate.staged_sum_ms", []).append(sum(stages))
    release_checkpoints(b, keep)
    return digest
