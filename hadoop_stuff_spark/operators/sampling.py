"""Deterministic sampling & corpus mixing for training-data pipelines.

Random `df.sample()` is irreproducible across runs/partitionings — a
training-data pipeline needs sampling that is a pure function of the ROW,
so reruns, backfills, and incremental runs keep/drop the same documents.
The standard trick: hash a stable key and keep rows whose hash falls under
a threshold. md5 is used (not xxhash64) because both Spark AND DuckDB
implement it identically — every op here is oracle-certifiable.

All ops are map-only single-scan Catalyst expressions (the per-group
sampler adds one window shuffle on the group key) — nothing here collects
or loops on the driver, so every op holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table, spread
from hadoop_stuff_spark.functions import text as T

_HEX_DIGITS = 6  # threshold resolution: 16^-6 ≈ 6e-8


def _hex_threshold(fraction: float) -> str:
    f = min(max(fraction, 0.0), 1.0)
    if f >= 1.0:
        # 'g' sorts after every hex char, so `hex6 < 'g'` keeps everything
        # (a 7-digit numeric threshold would break the fixed-length
        # lexicographic==numeric equivalence)
        return "g"
    return format(int(f * (16**_HEX_DIGITS)), f"0{_HEX_DIGITS}x")


def deterministic_keep(key: Column | str, fraction: float, salt: str = "") -> Column:
    """Boolean keep-predicate: md5(salt || key)'s first 6 hex chars,
    compared lexicographically against the fraction's hex threshold
    (fixed-length lowercase hex ⇒ lexicographic == numeric). Uniform for
    uniform-ish keys; change ``salt`` to draw an independent sample."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return F.substring(h, 1, _HEX_DIGITS) < F.lit(_hex_threshold(fraction))


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Reproducible ~``fraction`` sample keyed on ``key_col``."""
    return df.filter(deterministic_keep(key_col, fraction, salt))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing primitive
    (e.g. keep 100% of wiki, 10% of commoncrawl). Strata not listed get
    ``default_fraction``."""
    if not fractions:
        return df.filter(deterministic_keep(key_col, default_fraction, salt))
    pred = None
    for value, fraction in sorted(fractions.items()):
        cond = F.col(strata_col) == value
        branch = deterministic_keep(key_col, fraction, salt)
        pred = F.when(cond, branch) if pred is None else pred.when(cond, branch)
    return df.filter(pred.otherwise(deterministic_keep(key_col, default_fraction, salt)))


def sample_n_per_group(
    df: DataFrame, group_col: str, key_col: str, n: int, salt: str = ""
) -> DataFrame:
    """Exactly min(n, group size) rows per group, chosen deterministically
    (hash order, key tiebreak). One window shuffle on the group key; the
    per-group state is a counter, so hot groups cost sort-time, not memory."""
    c = F.col(key_col)
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    w = Window.partitionBy(group_col).orderBy(h.asc(), c.asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# certification queries (EXTRA_QUERIES — DuckDB-differential, local)


_MIX_LADDER = [1.0, 0.5, 0.25, 0.1, 0.05]  # fraction per source rank (mod 5)


def n3_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample of documents by source (the
    corpus-mixing shape: rank r source keeps _MIX_LADDER[r % 5]) —
    per-source kept counts + id-sum (order-free exact summary of the kept
    SET)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # Control-plane read, explicitly bounded (r3 VERDICT nit): the ladder
    # needs a rank per distinct SOURCE NAME — corpus-source cardinality,
    # dozens in practice. The cap turns "unbounded collect by type" into
    # a loud failure instead of a silent driver OOM; corpora with more
    # strata than this should carry fractions as a joined config table
    # (the `corpus_mix` pattern).
    _MAX_STRATA = 10_000
    rows = docs.select("source").distinct().limit(_MAX_STRATA + 1).collect()
    if len(rows) > _MAX_STRATA:
        raise ValueError(
            f"more than {_MAX_STRATA} distinct sources — pass fractions as "
            "a joined table (see corpus_mix) instead of the rank ladder"
        )
    sources = sorted(r["source"] for r in rows)
    fractions = {s: _MIX_LADDER[i % len(_MIX_LADDER)] for i, s in enumerate(sources)}
    kept = stratified_sample(docs, "source", fractions, "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
    )


def _stratified_sql() -> str:
    # mirror of n3_stratified_sample: same fraction ladder over the sorted
    # distinct sources, same md5-prefix predicate
    thresholds = ",".join(
        f"({i}, '{_hex_threshold(f)}')" for i, f in enumerate(_MIX_LADDER)
    )
    return f"""
WITH src AS (
  SELECT source, row_number() OVER (ORDER BY source) - 1 AS rnk
  FROM (SELECT DISTINCT source FROM documents)
), thr(rnk, t) AS (VALUES {thresholds})
SELECT d.source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents d
JOIN src ON d.source = src.source
JOIN thr ON thr.rnk = src.rnk % {len(_MIX_LADDER)}
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) < thr.t
GROUP BY d.source
"""


STRATIFIED_SAMPLE_SQL = _stratified_sql()


def n3_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-per-source document pick (hash order) — stable
    across runs and partitionings, certified value-exact by the oracle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return sample_n_per_group(docs, "source", "doc_id", 3).select("source", "doc_id")


SAMPLE_PER_GROUP_SQL = """
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 3
"""


def split_corpus(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split: each row lands in exactly one
    split, decided by which sub-range of [0, 1) its hash prefix falls in
    (ranges stacked in sorted split-name order). Reproducible across runs,
    partitionings, and incremental re-runs — a document never migrates
    between splits. Adds a ``split`` column; weights must sum to ~1."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    c = F.col(key_col)
    h = F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, _HEX_DIGITS)
    expr = None
    acc = 0.0
    names = sorted(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = h < F.lit(_hex_threshold(acc))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def n3_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: 90/5/5 split of documents — per-split counts and
    id-sums (exact set summary), recomputable by the oracle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    out = split_corpus(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
    )


def _split_sql() -> str:
    # sorted names: test (0.05), train (0.9), val (rest) — cumulative
    # thresholds mirror split_corpus exactly
    t1 = _hex_threshold(0.05)
    t2 = _hex_threshold(0.95)
    return f"""
WITH h AS (
  SELECT doc_id,
         substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 6) AS hx
  FROM documents
)
SELECT CASE WHEN hx < '{t1}' THEN 'test'
            WHEN hx < '{t2}' THEN 'train'
            ELSE 'val' END AS split,
       count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM h GROUP BY 1
"""


CORPUS_SPLIT_SQL = _split_sql()


# ---------------------------------------------------------------------------
# corpus mixing: resample sources to target weights

_HEX_CHARS = "0123456789abcdef"
_MIX_DIGITS = 4  # keep-fraction resolution 1/65536


def _hex_prefix_val(h: Column, n: int = _MIX_DIGITS) -> Column:
    """Numeric value of the first n hex chars of a digest — instr
    arithmetic only, so the identical expression exists in the oracle
    (DuckDB strpos)."""
    v: Column | None = None
    for i in range(1, n + 1):
        d = F.instr(F.lit(_HEX_CHARS), F.substring(h, i, 1)) - 1
        v = d if v is None else v * 16 + d
    return v


def hex_prefix_sql(salt: str, n: int, key_expr: str = "doc_id") -> str:
    """DuckDB mirror of :func:`_hex_prefix_val` over
    ``md5('<salt>:' || CAST(<key_expr> AS VARCHAR))`` — THE one SQL
    builder for the md5-prefix-to-integer chain (r9 review: three
    copy-pasted builders drifted into three modules; a chain fix must
    land exactly here)."""
    hexv = "0"
    for i in range(1, n + 1):
        hexv = (
            f"({hexv}) * 16 + (strpos('{_HEX_CHARS}',"
            f" substr(md5('{salt}:' || CAST({key_expr} AS VARCHAR)), {i}, 1)) - 1)"
        )
    return hexv


def corpus_mix(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    key_col: str,
    salt: str = "mix1",
) -> DataFrame:
    """Resample a multi-source corpus to target mixture ``weights`` —
    maximal under the available per-source counts: the scarcest source
    (relative to its weight) is kept whole and every other source is
    deterministically downsampled to match its proportion.

    Fully declarative two-pass plan: one aggregate for per-source counts
    (vocabulary-sized), a broadcast join of the derived keep-fractions,
    and a map-side md5-threshold filter — no driver collect, no RNG; the
    same rows are kept on any cluster/partitioning, and the whole thing
    is expressible in the DuckDB oracle."""
    if not weights:
        raise ValueError("weights must be non-empty")
    sources = sorted(weights)
    w_expr = F.col(source_col)
    expr = None
    for s in sources:
        cond = w_expr == s
        expr = F.when(cond, weights[s]) if expr is None else expr.when(cond, weights[s])
    filtered = df.filter(w_expr.isin(sources))
    counts = (
        filtered.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("_n_avail"))
        .withColumn("_w", expr)
    )
    scale = counts.agg(F.min(F.col("_n_avail") / F.col("_w")).alias("_scale"))
    fracs = (
        counts.crossJoin(F.broadcast(scale))
        .select(
            source_col,
            F.least(
                F.lit(1.0), F.col("_scale") * F.col("_w") / F.col("_n_avail")
            ).alias("_keep_frac"),
        )
    )
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    return (
        filtered.join(F.broadcast(fracs), source_col)
        .filter(
            _hex_prefix_val(h).cast("double")
            < F.col("_keep_frac") * float(16**_MIX_DIGITS)
        )
        .drop("_keep_frac")
    )


def n3_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: mix three equal-sized sources to 50/30/20 — per-source
    kept counts + id-sums pin the exact kept set."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    out = corpus_mix(
        docs, "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}, "doc_id"
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
    )


def _mix_sql() -> str:
    hexv = hex_prefix_sql("mix1", _MIX_DIGITS)
    return f"""
WITH filt AS (
  SELECT doc_id, source FROM documents WHERE source IN ('src0','src1','src2')
), counts AS (
  SELECT source, count(*) AS n_avail,
         CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3 ELSE 0.2 END AS w
  FROM filt GROUP BY source
), scale AS (
  SELECT min(n_avail / w) AS scale FROM counts
), fracs AS (
  SELECT source, least(1.0, scale * w / n_avail) AS keep_frac
  FROM counts CROSS JOIN scale
)
SELECT f.source, count(*) AS n_docs, CAST(sum(f.doc_id) AS BIGINT) AS id_sum
FROM filt f JOIN fracs USING (source)
WHERE CAST({hexv} AS DOUBLE) < keep_frac * {float(16**_MIX_DIGITS)}
GROUP BY f.source
"""


CORPUS_MIX_SQL = _mix_sql()


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis, deterministic)


def weighted_sample_topk(
    df: DataFrame, key_col: str, weight_col: str, k: int, salt: str = "es1"
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: k rows chosen
    with probability proportional to ``weight_col`` — the
    Efraimidis–Spirakis A-ES scheme (each row draws u in (0,1], rank by
    u^(1/w), keep the top k). Used where plain `deterministic_sample`
    is wrong because rows are not equally important: sampling documents
    proportional to length for token-budgeted eval sets, hosts by
    traffic, users by activity.

    Determinism: u is the row's md5 prefix (same trick as every sampler
    here — a pure function of the row, so reruns/backfills pick the
    same set), u = (hexval + 1) / 16^6 in (0, 1]. The rank key is
    ln(u)/w — the monotone log form of u^(1/w), one libm call instead
    of pow. Cross-engine determinism: ln(u) (an O(1)-magnitude value)
    is rounded to 8 dp BEFORE the division — ln differs by <=1 ulp
    across libms and the round erases that, while IEEE division of the
    now-identical operands is exactly rounded, so both engines hold
    bit-identical keys at FULL resolution. (Rounding the quotient
    instead would collapse key resolution for large weights —
    ln(u)/1e8 spans ~1e-8, so an 8 dp round left ~10 distinct keys and
    the id tiebreak, not the weights, picked the sample.) Ties break
    on the key column. Rows with non-positive or NULL weight are
    excluded (they have zero sampling mass; ln(u)/w would flip sign).

    Scale shape: one scan, map-only key computation, then
    ``orderBy(...).limit(k)`` — Spark plans TakeOrderedAndProject
    (per-partition top-k heaps, k rows to the driver-side reduce),
    never a global sort.
    """
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    u = (_hex_prefix_val(h, _HEX_DIGITS).cast("double") + 1.0) / float(
        16**_HEX_DIGITS
    )
    es = F.round(F.log(u), 8) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key", es)
        .orderBy(F.desc("es_key"), F.asc(key_col))
        .limit(k)
    )


def n3_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: 100 documents sampled proportional to length
    (n_chars) — the token-budgeted eval-set draw."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return weighted_sample_topk(docs, "doc_id", "n_chars", 100).select(
        "doc_id", "n_chars", "es_key"
    )


def _weighted_sample_sql() -> str:
    hexv = hex_prefix_sql("es1", _HEX_DIGITS)
    return f"""
WITH h AS (
  SELECT doc_id, n_chars,
         round(ln((CAST({hexv} AS DOUBLE) + 1.0) / {float(16**_HEX_DIGITS)}), 8)
           / CAST(n_chars AS DOUBLE) AS es_key
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, n_chars, es_key
FROM h ORDER BY es_key DESC, doc_id LIMIT 100
"""


WEIGHTED_SAMPLE_SQL = _weighted_sample_sql()


def n3_mixture_temperature_table(
    spark: SparkSession, sf_dir: str, taus: tuple = (1.0, 2.0, 4.0)
) -> DataFrame:
    """Temperature-scaled corpus mixture table: each source's natural
    token share p_i and its resampling share under temperature τ,
    q_i(τ) = p_i^(1/τ) / Σ_j p_j^(1/τ) — the standard knob multilingual
    and multi-source pretraining uses to up-sample small sources without
    letting any single source dominate (τ=1 is the natural mix, τ→∞ is
    uniform). The per-τ boost column (q/p) is the effective epoch
    multiplier the source would see at a fixed token budget.

    Exactness: p is a ratio of exact integer token counts; the pow/sum
    chain is identical on both engines and every output rounds to 6 dp
    (the libm-ulp convention). Columns are fixed (one per default τ) so
    the oracle mirrors the DEFAULT taus only — the house
    oracle-for-default-only convention.

    Scale shape: one explode-free token count per document
    (size(split()) — no token materialization), a |sources|-row hash
    aggregate, then window sums over that tiny relation."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_tok = T.token_count("text")
    per_src = docs.groupBy("source").agg(
        F.sum(n_tok).cast("long").alias("n_tokens")
    )
    w_all = Window.partitionBy()
    p = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w_all).cast(
        "double"
    )
    out = per_src.withColumn("p_natural", p)
    cols = ["source", "n_tokens", F.round("p_natural", 6).alias("natural_share")]
    for t in taus:
        powed = F.pow(F.col("p_natural"), 1.0 / t)
        q = powed / F.sum(powed).over(w_all)
        label = str(t).rstrip("0").rstrip(".").replace(".", "_")
        cols.append(F.round(q, 6).alias(f"share_tau{label}"))
        cols.append(F.round(q / F.col("p_natural"), 6).alias(f"boost_tau{label}"))
    return out.select(*cols).orderBy("source")


MIXTURE_TEMPERATURE_SQL = """
WITH per_src AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), p AS (
  SELECT source, n_tokens,
         CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)
           AS p_natural
  FROM per_src
)
SELECT source, n_tokens,
       round(p_natural, 6) AS natural_share,
       round(pow(p_natural, 1.0 / 1.0) / sum(pow(p_natural, 1.0 / 1.0)) OVER (), 6)
         AS share_tau1,
       round((pow(p_natural, 1.0 / 1.0) / sum(pow(p_natural, 1.0 / 1.0)) OVER ())
             / p_natural, 6) AS boost_tau1,
       round(pow(p_natural, 1.0 / 2.0) / sum(pow(p_natural, 1.0 / 2.0)) OVER (), 6)
         AS share_tau2,
       round((pow(p_natural, 1.0 / 2.0) / sum(pow(p_natural, 1.0 / 2.0)) OVER ())
             / p_natural, 6) AS boost_tau2,
       round(pow(p_natural, 1.0 / 4.0) / sum(pow(p_natural, 1.0 / 4.0)) OVER (), 6)
         AS share_tau4,
       round((pow(p_natural, 1.0 / 4.0) / sum(pow(p_natural, 1.0 / 4.0)) OVER ())
             / p_natural, 6) AS boost_tau4
FROM p
ORDER BY source
"""


def n3_split_leakage_report(
    spark: SparkSession, sf_dir: str, n: int = 3, max_doc_freq: int = 1000
) -> DataFrame:
    """Train/val/test LEAKAGE audit: after the deterministic 90/5/5 split,
    how many val/test documents share at least one word n-gram shingle
    with the training split — the eval-integrity check every benchmark
    pipeline runs before trusting a held-out number (a val doc whose
    shingles all appear in train is memorization bait, not evaluation).

    Composition of two certified stages: the md5 split (split_corpus —
    a doc never migrates between splits) and the guarded shingle index
    (dedup._shingle_index — the same df-cut as the Jaccard dedup, so
    stop-shingles shared by everything don't declare the whole eval set
    leaked). A doc too short to carry any surviving shingle cannot leak.

    Scale shape: one shingle explode, the hot-shingle broadcast
    anti-join, a distinct on train shingles (shuffle on shingle), one
    semi-join of eval shingles against it, one distinct on leaked doc
    ids — nothing pairwise, nothing quadratic; the report is ≤ 2 rows."""
    from hadoop_stuff_spark.operators.dedup import _shingle_index

    docs = spread(load_table(spark, sf_dir, "documents"))
    split = split_corpus(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")
    idx = _shingle_index(docs, n, max_doc_freq).join(split, "doc_id")
    train_sh = (
        idx.filter(F.col("split") == "train").select("shingle").distinct()
    )
    eval_sh = idx.filter(F.col("split") != "train")
    leaked = (
        eval_sh.join(train_sh, "shingle", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("_leak", F.lit(1))
    )
    return (
        split.filter(F.col("split") != "train")
        .join(leaked, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("_leak", F.lit(0))).cast("long").alias("n_leaked"),
        )
        .withColumn(
            "leak_share",
            F.round(F.col("n_leaked").cast("double") / F.col("n_docs"), 6),
        )
        .orderBy("split")
    )


def _split_leakage_sql() -> str:
    t1 = _hex_threshold(0.05)
    t2 = _hex_threshold(0.95)
    return f"""
WITH sh_all AS (
  SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle
  FROM (
    SELECT doc_id,
           list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                          i -> array_to_string(toks[i:i+2], ' ')) AS sh_list
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
), sh AS (
  SELECT doc_id, shingle FROM sh_all
  WHERE shingle IN (SELECT shingle FROM sh_all
                    GROUP BY shingle HAVING count(*) <= 1000)
), split AS (
  SELECT doc_id,
         CASE WHEN hx < '{t1}' THEN 'test'
              WHEN hx < '{t2}' THEN 'train'
              ELSE 'val' END AS split
  FROM (SELECT doc_id,
               substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 6) AS hx
        FROM documents)
), train_sh AS (
  SELECT DISTINCT shingle FROM sh JOIN split USING (doc_id)
  WHERE split = 'train'
), leaked AS (
  SELECT DISTINCT s.doc_id
  FROM sh s JOIN split sp USING (doc_id)
  WHERE sp.split <> 'train'
    AND s.shingle IN (SELECT shingle FROM train_sh)
)
SELECT sp.split,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked,
       round(CAST(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS leak_share
FROM split sp LEFT JOIN leaked l ON sp.doc_id = l.doc_id
WHERE sp.split <> 'train'
GROUP BY sp.split
ORDER BY sp.split
"""


SPLIT_LEAKAGE_SQL = _split_leakage_sql()


# defaults shared with TOKEN_BUDGET_SQL below (the decayed-topk convention:
# the Python defaults and the certified SQL cannot silently diverge)
_BUDGET_TOKENS = 1_000_000
_BUDGET_TAU = 2.0
_BUDGET_MAX_EPOCHS = 4.0


def n3_token_budget_epochs(
    spark: SparkSession,
    sf_dir: str,
    budget_tokens: int = _BUDGET_TOKENS,
    tau: float = _BUDGET_TAU,
    max_epochs: float = _BUDGET_MAX_EPOCHS,
) -> DataFrame:
    """Token-budget epoch allocator — the consumer of the temperature
    mixture table: given a total training-token budget, each source's
    temperature-τ share is converted into an allocated token count and an
    epoch (repeat) factor over that source's actual tokens, capped at
    ``max_epochs`` (repeating a small source past a few epochs stops
    buying diversity — the standard data-constrained scaling guardrail).
    The report shows where the budget actually lands: ``clipped`` sources
    return unspent budget, so ``realized_share`` drifts from
    ``target_share`` exactly where the cap bit.

    Exactness across engines: token counts are exact integers
    (explode-free size(split())), the share chain is the mixture table's
    pow/sum expression, allocations floor the milli-token-ROUNDED
    product (the round erases partial-agg ordering ulps BEFORE the
    floor — flooring the raw product could differ by one token across
    engines; and explicit floor(), never a bare CAST — DuckDB rounds,
    Spark truncates), and every reported ratio rounds to 6 dp.

    Scale shape: one documents scan → |sources|-row hash aggregate; all
    windows and arithmetic run on that tiny relation. Nothing here sees
    document text after the map-side token count."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_tok = T.token_count("text")
    per_src = docs.groupBy("source").agg(
        F.sum(n_tok).cast("long").alias("n_tokens")
    )
    w_all = Window.partitionBy()
    p = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w_all).cast(
        "double"
    )
    powed = F.pow(p, 1.0 / tau)
    q = powed / F.sum(powed).over(w_all)
    # the allocation floors the 3 dp-ROUNDED product, not the raw one:
    # raw q carries partial-agg ordering ulps, and floor() of an
    # ulp-uncertain product can differ by one token across engines; the
    # milli-token round erases the ulp first (the house float-aggregate
    # rule), then floor() of the now-identical value is exact — and the
    # bias vs the true floor is at most half a milli-token per source
    alloc = F.floor(F.round(q * float(budget_tokens), 3)).cast("long")
    staged = (
        per_src.withColumn("target_share", q)
        .withColumn("allocated_tokens", alloc)
        .withColumn(
            "epochs_raw",
            F.col("allocated_tokens").cast("double")
            / F.col("n_tokens").cast("double"),
        )
        .withColumn("clipped", F.col("epochs_raw") > F.lit(float(max_epochs)))
        .withColumn(
            "tokens_drawn",
            F.when(
                F.col("clipped"),
                F.floor(F.lit(float(max_epochs)) * F.col("n_tokens")).cast("long"),
            ).otherwise(F.col("allocated_tokens")),
        )
    )
    return staged.select(
        "source",
        "n_tokens",
        F.round("target_share", 6).alias("target_share"),
        "allocated_tokens",
        F.round(
            F.when(F.col("clipped"), F.lit(float(max_epochs))).otherwise(
                F.col("epochs_raw")
            ),
            6,
        ).alias("epochs"),
        "clipped",
        "tokens_drawn",
        F.round(
            F.col("tokens_drawn").cast("double")
            / F.sum("tokens_drawn").over(w_all).cast("double"),
            6,
        ).alias("realized_share"),
    ).orderBy("source")


TOKEN_BUDGET_SQL = f"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), shares AS (
  SELECT source, n_tokens,
         pow(CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE),
             1.0 / {_BUDGET_TAU}) AS powed
  FROM per_src
), q AS (
  SELECT source, n_tokens,
         powed / sum(powed) OVER () AS target_share
  FROM shares
), staged AS (
  SELECT source, n_tokens, target_share,
         CAST(floor(round(target_share * {float(_BUDGET_TOKENS)}, 3)) AS BIGINT)
           AS allocated_tokens,
         CAST(floor(round(target_share * {float(_BUDGET_TOKENS)}, 3)) AS BIGINT)
           / CAST(n_tokens AS DOUBLE) AS epochs_raw
  FROM q
), capped AS (
  SELECT *,
         epochs_raw > {_BUDGET_MAX_EPOCHS} AS clipped,
         CASE WHEN epochs_raw > {_BUDGET_MAX_EPOCHS}
              THEN CAST(floor({_BUDGET_MAX_EPOCHS} * n_tokens) AS BIGINT)
              ELSE allocated_tokens END AS tokens_drawn
  FROM staged
)
SELECT source, n_tokens,
       round(target_share, 6) AS target_share,
       allocated_tokens,
       round(CASE WHEN clipped THEN {_BUDGET_MAX_EPOCHS} ELSE epochs_raw END, 6)
         AS epochs,
       clipped,
       tokens_drawn,
       round(CAST(tokens_drawn AS DOUBLE)
             / CAST(sum(tokens_drawn) OVER () AS DOUBLE), 6) AS realized_share
FROM capped
ORDER BY source
"""
