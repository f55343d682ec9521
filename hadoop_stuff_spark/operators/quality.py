"""Data-quality constraint checking — the admission gate every pipeline
table needs (null rates, domains, ranges, uniqueness, referential
integrity), computed in as few scans as the constraint classes allow.

Three constraint classes, three plan shapes:
- **row rules** (null / range / domain / regex): ONE scan, every rule a
  conditional-count aggregate fused into a single partial+final agg —
  adding a rule adds a column, not a pass.
- **uniqueness**: count(*) - count(distinct key) — one hash agg on the
  key (map-side partial), reported in the same summary.
- **referential integrity**: child LEFT ANTI parent on the key; the
  parent side is dim-sized in every real schema, so Spark broadcasts it.

`check(...)` returns the violation summary (one row per rule);
`enforce(...)` splits a frame into (clean, quarantine) with a
per-row `failed_rules` array — quarantine keeps every original column,
nothing is silently dropped (the structured-source `_corrupt` pattern,
sources/structured.py, applied to semantic rules).

Reference provenance: the reference validates nothing — a malformed CDR
line crashes the job (RecordFinderMap.java:28 raises on bad splits).
This is the engine-native replacement: malformed rows are counted,
quarantined, and never take the pipeline down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_stuff_spark.catalog import load_table


def check_rows(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One-scan violation summary for row-level rules. ``rules`` maps
    rule name -> boolean Column that is True when the row PASSES.
    Output: (rule, n_violations, n_rows) — one row per rule."""
    aggs = [F.count(F.lit(1)).alias("__n_rows")] + [
        F.sum(F.when(~cond | cond.isNull(), 1).otherwise(0))
        .cast("long")
        .alias(f"__v_{name}")
        for name, cond in rules.items()
    ]
    wide = df.agg(*aggs)
    # unpivot the single wide row into (rule, n_violations, n_rows)
    pairs = []
    for name in rules:
        pairs.append(F.struct(
            F.lit(name).alias("rule"),
            F.col(f"__v_{name}").alias("n_violations"),
            F.col("__n_rows").alias("n_rows"),
        ))
    return (
        wide.select(F.explode(F.array(*pairs)).alias("r"))
        .select("r.rule", "r.n_violations", "r.n_rows")
    )


def check_unique(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Uniqueness violations: rows beyond the first per key."""
    return df.agg(
        F.lit("unique(" + ",".join(key_cols) + ")").alias("rule"),
        (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in key_cols]))
        .cast("long")
        .alias("n_violations"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def check_referential(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """Orphaned child rows (no matching parent key): LEFT ANTI join,
    parent broadcasts when dim-sized (Spark's size estimate decides)."""
    n_rows = child.count()
    orphans = child.join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        child_key,
        "left_anti",
    )
    return orphans.agg(
        F.lit(f"fk({child_key})").alias("rule"),
        F.count(F.lit(1)).cast("long").alias("n_violations"),
        F.lit(n_rows).cast("long").alias("n_rows"),
    )


def enforce(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): quarantine rows fail >= 1 rule and carry a
    ``failed_rules array<string>`` naming each; clean rows pass all.
    One scan each side (Spark shares the cached plan when persisted)."""
    failed = F.array_compact(
        F.array(
            *[
                F.when(~cond | cond.isNull(), F.lit(name))
                for name, cond in rules.items()
            ]
        )
    )
    tagged = df.withColumn("failed_rules", failed)
    clean = tagged.filter(F.size("failed_rules") == 0).drop("failed_rules")
    quarantine = tagged.filter(F.size("failed_rules") > 0)
    return clean, quarantine


def dq_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: row rules + uniqueness + referential integrity over
    orders, one summary frame (sorted by rule name)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rows = check_rows(
        orders,
        {
            "positive_price": F.col("o_totalprice") > 0,
            "known_status": F.col("o_orderstatus").isin("O", "F", "P"),
            "known_priority": F.col("o_orderpriority").rlike("^[0-9]-"),
            "custkey_present": F.col("o_custkey").isNotNull(),
        },
    )
    uniq = check_unique(orders, ["o_orderkey"])
    fk = check_referential(orders, "o_custkey", cust, "c_custkey")
    return rows.unionByName(uniq).unionByName(fk).orderBy("rule")


DQ_ORDERS_SQL = """
WITH rows_checks AS (
  SELECT * FROM (
    SELECT 'positive_price' AS rule,
           CAST(sum(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           count(*) AS n_rows FROM orders
    UNION ALL
    SELECT 'known_status',
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(*) FROM orders
    UNION ALL
    SELECT 'known_priority',
           CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[0-9]-') OR o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(*) FROM orders
    UNION ALL
    SELECT 'custkey_present',
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(*) FROM orders
  )
), uniq AS (
  SELECT 'unique(o_orderkey)' AS rule,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
         count(*) AS n_rows
  FROM orders
), fk AS (
  SELECT 'fk(o_custkey)' AS rule,
         CAST(count(*) AS BIGINT) AS n_violations,
         (SELECT count(*) FROM orders) AS n_rows
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
)
SELECT * FROM rows_checks UNION ALL SELECT * FROM uniq UNION ALL SELECT * FROM fk
ORDER BY rule
"""


# ---------------------------------------------------------------------------
# privacy: k-anonymity audit


def k_anonymity_report(df: DataFrame, quasi_cols: list[str]) -> DataFrame:
    """k-anonymity audit over a set of quasi-identifier columns: the
    distribution of equivalence-class sizes (rows sharing identical
    quasi-identifier values). A dataset is k-anonymous iff its smallest
    class has size >= k; rows in small classes are the re-identifiable
    ones a privacy review must find BEFORE a corpus ships. Output:
    (k, n_classes, n_rows) ascending in k — the head of this frame IS
    the risk report (k=1 rows are unique on the quasi-identifiers).

    Scale shape: one hash aggregate on the quasi-identifier tuple
    (map-side partial), then a second aggregate over class sizes whose
    input is already classes-sized. NULL quasi-values group as their own
    class (groupBy null-safe semantics on both engines), which is the
    conservative read — NULL patterns can re-identify too.
    """
    classes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("k"))
    return (
        classes.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "k",
            "n_classes",
            (F.col("k") * F.col("n_classes")).alias("n_rows"),
        )
        .orderBy("k")
    )


def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification: class-size distribution of customers under the
    (nation, market segment) quasi-identifier pair."""
    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_report(cust, ["c_nationkey", "c_mktsegment"])


K_ANONYMITY_SQL = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS k
  FROM customer GROUP BY 1, 2
)
SELECT k, count(*) AS n_classes, CAST(k * count(*) AS BIGINT) AS n_rows
FROM classes GROUP BY k ORDER BY k
"""


# (child table, child key, parent table, parent key) — the star schema's
# full FK edge set (TESTDATA.md tables)
_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity sweep: every FK edge of the
    star schema checked for orphaned child rows in one report — the
    admission gate a warehouse load runs before publishing a snapshot
    (one silent orphan batch and every downstream join starts dropping
    revenue rows).

    Plan shape per edge: child LEFT JOIN parent on the key counting
    NULL parents (the LEFT-join-count form rather than anti-join so ONE
    pass yields both n_child_rows and n_orphans). Only the genuinely
    dim-sized parents (nation/region/part/supplier — bounded at any SF)
    get the broadcast HINT; orders and customer are fact-sized, so
    their edges go unhinted and AQE picks broadcast vs shuffle from the
    real size (an unconditional hint would OOM on billions of distinct
    orderkeys at 100 TB). Edges are independent single-row aggregates
    unioned — each one scan of the child's key column; the big children
    (lineitem ×3) could share a scan via conditional counts if
    profiling demanded it."""
    dim_parents = {"nation", "region", "part", "supplier"}
    parts = []
    for child_t, ck, parent_t, pk in _FK_EDGES:
        child = load_table(spark, sf_dir, child_t)
        parent = load_table(spark, sf_dir, parent_t)
        keys = (
            parent.select(F.col(pk).alias(ck)).distinct()
            .withColumn("_hit", F.lit(1))
        )
        if parent_t in dim_parents:
            keys = F.broadcast(keys)
        joined = child.select(F.col(ck)).join(keys, ck, "left")
        parts.append(
            joined.agg(
                F.lit(child_t).alias("child_table"),
                F.lit(ck).alias("fk_column"),
                F.lit(parent_t).alias("parent_table"),
                F.count(F.lit(1)).alias("n_child_rows"),
                # ADVICE r8: a NULL child FK is a different defect class
                # (missing data, duplicate_key_report's territory) from a
                # non-NULL key with no parent (true orphan) — report them
                # in separate columns instead of conflating both into
                # n_orphans via the never-matching NULL join key.
                F.sum(
                    F.when(
                        F.col(ck).isNotNull() & F.col("_hit").isNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_orphans"),
                F.sum(F.when(F.col(ck).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_null_fks"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("child_table", "fk_column")


_RI_SQL_PARTS = [
    f"""SELECT '{c}' AS child_table, '{ck}' AS fk_column,
       '{p}' AS parent_table,
       count(*) AS n_child_rows,
       CAST(sum(CASE WHEN ch.{ck} IS NOT NULL AND par.{pk} IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       CAST(sum(CASE WHEN ch.{ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_fks
FROM {c} ch LEFT JOIN (SELECT DISTINCT {pk} FROM {p}) par
  ON ch.{ck} = par.{pk}"""
    for c, ck, p, pk in _FK_EDGES
]
REFERENTIAL_SQL = (
    "\nUNION ALL\n".join(_RI_SQL_PARTS)
    + "\nORDER BY child_table, fk_column"
)


# (table, primary key column) — single-column PKs of the catalog tables
_PK_COLS = [
    ("customer", "c_custkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
    ("events", "event_id"),
    ("orders", "o_orderkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
]


def duplicate_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across every catalog table: rows,
    distinct keys, duplicated keys, and the worst multiplicity — the
    upstream-double-delivery tripwire (a replayed ingest batch shows up
    here as max_multiplicity 2 before any downstream join fans out).

    Plan shape per table: ONE hash aggregate on the key (map-side
    partial, NULL keys grouped like any value) then a single-row
    re-aggregate with NULL-key rows split into their own column (a NULL
    PK is its own defect class, not a duplicate) — one scan per table,
    no driver round-trips; tables are independent unioned aggregates."""
    parts = []
    for t, k in _PK_COLS:
        df = load_table(spark, sf_dir, t)
        per_key = df.groupBy(k).agg(F.count(F.lit(1)).alias("_m"))
        kk = F.col(k)
        parts.append(
            per_key.agg(
                F.lit(t).alias("table_name"),
                F.lit(k).alias("key_column"),
                F.sum("_m").alias("n_rows"),
                F.sum(F.when(kk.isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_keys"),
                F.sum(F.when(kk.isNotNull() & (F.col("_m") > 1), 1).otherwise(0))
                .cast("long")
                .alias("n_dup_keys"),
                F.max(F.when(kk.isNotNull(), F.col("_m"))).alias(
                    "max_multiplicity"
                ),
                F.coalesce(
                    F.sum(F.when(kk.isNull(), F.col("_m"))), F.lit(0)
                )
                .cast("long")
                .alias("n_null_keys"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


_DK_SQL_PARTS = [
    f"""SELECT '{t}' AS table_name, '{k}' AS key_column,
       CAST(sum(m) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {k} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keys,
       CAST(sum(CASE WHEN {k} IS NOT NULL AND m > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_keys,
       CAST(max(CASE WHEN {k} IS NOT NULL THEN m END) AS BIGINT)
         AS max_multiplicity,
       CAST(coalesce(sum(CASE WHEN {k} IS NULL THEN m END), 0) AS BIGINT)
         AS n_null_keys
FROM (SELECT {k}, count(*) AS m FROM {t} GROUP BY 1)"""
    for t, k in _PK_COLS
]
DUPLICATE_KEY_SQL = (
    "\nUNION ALL\n".join(_DK_SQL_PARTS) + "\nORDER BY table_name"
)
