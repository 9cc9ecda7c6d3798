"""Data-quality, privacy and drift operators: expectations,
profiling and value histograms, robust statistics, PSI/KS and schema
drift, source reconciliation, referential-integrity audits, and the
privacy audits (erasure, k-anonymity, l-diversity, t-closeness) over
one shared customer quasi-identifier.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..artifacts import fixture_fingerprint
from ..plans.spec import Query
from ..sources.catalog import load_table
from .relational import _sweep_stale_siblings
from .twophase import bucket_carry_totals


# ---------------------------------------------------------------------------
# profile_table

# (column, kind) in profile order; kind picks the min/max projection
_PROFILE_COLS = (
    ("event_id", "num"),
    ("ts", "time"),
    ("user_id", "num"),
    ("event_type", "str"),
    ("value", "num"),
    ("props", "str"),
)


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of the events table: null count, exact
    distinct count, and a typed min/max (numerics as doubles,
    timestamps as epoch seconds, strings skipped) — the first pass of
    every data-quality / ingestion-validation pipeline, in long format
    (one row per column) so downstream checks are data, not code.

    Plan: ONE aggregation over one scan — Catalyst rewrites the
    multi-distinct aggregate with Expand (one extra map-side row per
    distinct column), so the cost is a single shuffle regardless of
    column count. Scale note: COUNT(DISTINCT) is exact here because
    the oracle demands it; at 100 TB the same profile runs with the
    mergeable HLL sketches (``agg_hll_sketch``) at a fraction of the
    shuffle, trading exactness for a documented ±2% bound.
    """
    e = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("_n")]
    for c, kind in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"{c}__nn"))
        aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"{c}__mn"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__mx"))
        elif kind == "time":
            aggs.append(
                F.unix_timestamp(F.min(c)).cast("double").alias(f"{c}__mn")
            )
            aggs.append(
                F.unix_timestamp(F.max(c)).cast("double").alias(f"{c}__mx")
            )
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__mn"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__mx"))
    wide = e.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                (F.col("_n") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_value"),
                F.col(f"{c}__mx").alias("max_value"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


def _sql_profile_col(c: str, kind: str) -> str:
    if kind == "num":
        mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
    elif kind == "time":
        mn = f"CAST(floor(epoch(MIN({c}))) AS DOUBLE)"
        mx = f"CAST(floor(epoch(MAX({c}))) AS DOUBLE)"
    else:
        mn = mx = "CAST(NULL AS DOUBLE)"
    return (
        f"SELECT '{c}' AS column, COUNT(*) - COUNT({c}) AS n_nulls, "
        f"COUNT(DISTINCT {c}) AS n_distinct, {mn} AS min_value, "
        f"{mx} AS max_value FROM events"
    )


SQL_PROFILE_TABLE = "\nUNION ALL\n".join(
    _sql_profile_col(c, kind) for c, kind in _PROFILE_COLS
)


# ---------------------------------------------------------------------------
# data_expectations

EXPECTED_EVENT_TYPES = ("click", "view", "purchase", "signup")


def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over the events table — the
    Deequ/Great-Expectations pattern: each expectation is evaluated to
    a (rule, n_checked, n_violations, passed) row, so the CONTRACT is
    data a pipeline can branch on (quarantine, alert, block publish),
    not an exception. `profile_table` measures; this judges. One rule
    (allowed event types) fails on this corpus by design — the
    'error' rows — because a validator whose fixtures can't fail
    proves nothing.

    Plan: the five scan-level rules fold into ONE aggregation over one
    scan (conditional counts + a distinct count); the referential rule
    is a left-anti count against the parent key set, PINNED
    shuffle-hash — the key set is |customers|-sized and grows with the
    corpus, so Catalyst's broadcast choice would put the whole parent
    dimension on the driver at scale. At 100 TB both shapes hold:
    conditional counts are combinable, and the anti join carries only
    the key column through a uniform-key shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    allowed = list(EXPECTED_EVENT_TYPES)
    agg = e.agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("n_uniq"),
        F.sum(F.col("value").isNull().cast("long")).alias("v_null"),
        F.sum((F.col("value") < 0).cast("long")).alias("v_neg"),
        F.sum((~F.col("event_type").isin(allowed)).cast("long")).alias("v_type"),
        F.sum(
            (
                (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp"))
            ).cast("long")
        ).alias("v_ts"),
    )
    ri = e.select("user_id").join(
        c.hint("shuffle_hash"), "user_id", "left_anti"
    ).agg(
        F.count("*").alias("v_ri")
    )
    wide = agg.crossJoin(ri)

    # ONE wide row exploded into six rule rows — a union of per-rule
    # selects re-executes the aggregation per branch (measured: 13
    # exchanges / 6 logical scans), while the struct-array explode
    # computes it once (same shape as profile_table)
    def rule(name, violations):
        return F.struct(
            F.lit(name).alias("rule"),
            F.col("n").alias("n_checked"),
            violations.cast("long").alias("n_violations"),
            (violations == 0).alias("passed"),
        )

    rules = F.array(
        rule("event_id_unique", F.col("n") - F.col("n_uniq")),
        rule("value_not_null", F.col("v_null")),
        rule("value_non_negative", F.col("v_neg")),
        rule("event_type_allowed", F.col("v_type")),
        rule("ts_in_2024", F.col("v_ts")),
        rule("user_id_references_customer", F.col("v_ri")),
    )
    return wide.select(F.explode(rules).alias("r")).select("r.*")


_ALLOWED_SQL = ", ".join(f"'{t}'" for t in EXPECTED_EVENT_TYPES)

SQL_DATA_EXPECTATIONS = f"""
WITH agg AS (
  SELECT COUNT(*) AS n,
         COUNT(DISTINCT event_id) AS n_uniq,
         COUNT(*) FILTER (WHERE value IS NULL) AS v_null,
         COUNT(*) FILTER (WHERE value < 0) AS v_neg,
         COUNT(*) FILTER (WHERE event_type NOT IN ({_ALLOWED_SQL})) AS v_type,
         COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-01'
                             OR ts >= TIMESTAMP '2025-01-01') AS v_ts
  FROM events
),
ri AS (
  SELECT COUNT(*) AS v_ri FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
),
wide AS (SELECT * FROM agg CROSS JOIN ri)
SELECT 'event_id_unique' AS rule, n AS n_checked,
       CAST(n - n_uniq AS BIGINT) AS n_violations, (n - n_uniq) = 0 AS passed
FROM wide
UNION ALL SELECT 'value_not_null', n, CAST(v_null AS BIGINT), v_null = 0 FROM wide
UNION ALL SELECT 'value_non_negative', n, CAST(v_neg AS BIGINT), v_neg = 0 FROM wide
UNION ALL SELECT 'event_type_allowed', n, CAST(v_type AS BIGINT), v_type = 0 FROM wide
UNION ALL SELECT 'ts_in_2024', n, CAST(v_ts AS BIGINT), v_ts = 0 FROM wide
UNION ALL SELECT 'user_id_references_customer', n, CAST(v_ri AS BIGINT), v_ri = 0 FROM wide
"""


# ---------------------------------------------------------------------------
# value_histogram

HIST_BINS = 20


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of the event values: 20 equal-width bins
    between the global min and max, with explicit bounds per bin — the
    distribution half of the profiling family (`profile_table` gives
    moments and extremes; this gives shape).

    Plan: one tiny min/max aggregate broadcast onto the scan, then a
    map-side-combinable count by bin id — two scans total, shuffle
    carries 20 rows. Bin assignment is the same double arithmetic on
    identical inputs in both engines (floor((v - min) / width · n),
    clamped), so bins match exactly; bounds are emitted from the same
    broadcast row. Empty bins are materialized from a sequence so the
    histogram is always dense (dashboards assume it).
    """
    e = load_table(spark, sf_dir, "events")
    mm = e.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    binned = (
        e.crossJoin(F.broadcast(mm))
        .select(
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / ((F.col("vmax") - F.col("vmin")) / HIST_BINS)
                ),
                F.lit(HIST_BINS - 1),
            )
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )
    dense = mm.select(
        F.explode(F.sequence(F.lit(0), F.lit(HIST_BINS - 1))).alias("bin"),
        "vmin",
        "vmax",
    )
    w = (F.col("vmax") - F.col("vmin")) / HIST_BINS
    return (
        dense.join(binned, "bin", "left")
        .select(
            "bin",
            F.round(F.col("vmin") + F.col("bin") * w, 6).alias("lo"),
            F.round(F.col("vmin") + (F.col("bin") + 1) * w, 6).alias("hi"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


SQL_VALUE_HISTOGRAM = f"""
WITH mm AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events),
binned AS (
  SELECT CAST(least(floor((value - vmin) / ((vmax - vmin) / {HIST_BINS})),
                    {HIST_BINS - 1}) AS BIGINT) AS bin,
         COUNT(*) AS n
  FROM events CROSS JOIN mm
  GROUP BY 1
),
dense AS (
  SELECT unnest(generate_series(0, {HIST_BINS - 1})) AS bin, vmin, vmax
  FROM mm
)
SELECT d.bin,
       ROUND(vmin + d.bin * ((vmax - vmin) / {HIST_BINS}), 6) AS lo,
       ROUND(vmin + (d.bin + 1) * ((vmax - vmin) / {HIST_BINS}), 6) AS hi,
       COALESCE(b.n, 0) AS n
FROM dense d LEFT JOIN binned b ON d.bin = b.bin
"""


def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group distribution statistics of document length:
    discrete quartiles (q1/median/q3 at rank ceil(p·n) on the
    (n_chars, doc_id) total order — PERCENTILE_DISC semantics, so the
    output is always an actual data value, never an interpolated
    midpoint), IQR, and the median absolute deviation — the
    outlier-resistant spread profile quality filters threshold on
    (mean/stddev versions of the same gates are one weird crawl dump
    away from useless).

    Two rank-window passes (values, then absolute deviations around
    the broadcast per-group median — MAD is inherently two-pass) plus
    conditional-max aggregations; everything stays int64, so the
    oracle matches bitwise. Scale note: rank windows partition by
    ``lang`` (cardinality 5), so per-group sort is the cost — this is
    the EXACT/audit twin; at 100 TB the same report runs on
    ``percentile_approx`` sketches (``agg_approx_quantile`` is that
    graded lane) and this exact lane runs on per-shard samples.
    """
    d = load_table(spark, sf_dir, "documents")
    wl = Window.partitionBy("lang")
    wr = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count("*").over(wl).alias("n"),
    )
    base = ranked.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("n_chars"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("n_chars"))
        ).alias("median"),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("n_chars"))
        ).alias("q3"),
    )
    devs = d.join(F.broadcast(base.select("lang", "median")), "lang").select(
        "lang",
        "doc_id",
        F.abs(F.col("n_chars") - F.col("median")).alias("dev"),
    )
    wd = Window.partitionBy("lang").orderBy("dev", "doc_id")
    mad = (
        devs.select(
            "lang",
            "dev",
            F.row_number().over(wd).cast("long").alias("rn"),
            F.count("*").over(wl).alias("n"),
        )
        .groupBy("lang")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("dev"))
            ).alias("mad")
        )
    )
    return base.join(F.broadcast(mad), "lang").select(
        "lang",
        "n_docs",
        "q1",
        "median",
        "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
        "mad",
    )


SQL_ROBUST_STATS = """
WITH r AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
b AS (
  SELECT lang, MAX(n) AS n_docs,
         MAX(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS q1,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS median,
         MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars END) AS q3
  FROM r GROUP BY lang
),
dv AS (
  SELECT d.lang, abs(d.n_chars - b.median) AS dev, d.doc_id
  FROM documents d JOIN b USING (lang)
),
dr AS (
  SELECT lang, dev,
         row_number() OVER (PARTITION BY lang ORDER BY dev, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM dv
),
m AS (
  SELECT lang, MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
  FROM dr GROUP BY lang
)
SELECT b.lang, b.n_docs, b.q1, b.median, b.q3,
       b.q3 - b.q1 AS iqr, m.mad
FROM b JOIN m USING (lang)
"""


# --------------------------------------------------------------------
# drift_psi
# --------------------------------------------------------------------

PSI_PIVOT_DATE = "1998-01-01"  # baseline = orders before, current = after
PSI_PRICE_BIN = 50_000.0  # fixed-width o_totalprice bins
PSI_PRICE_MAX_BIN = 9

# One shared contribution expression (the _BM25_MICRO_EXPR rule):
# (p_base − p_cur) · ln(p_base / p_cur), both proportions floored at
# 1e-6 (the standard PSI smoothing for empty buckets) — identical
# IEEE op sequence in both engines, micro-quantized once.
_PSI_CONTRIB_EXPR = (
    "CAST(ROUND((((CAST(n_base AS DOUBLE) / nb_tot)"
    " - (CAST(n_cur AS DOUBLE) / nc_tot))"
    " * ln(GREATEST(CAST(n_base AS DOUBLE) / nb_tot, CAST(0.000001 AS DOUBLE))"
    " / GREATEST(CAST(n_cur AS DOUBLE) / nc_tot, CAST(0.000001 AS DOUBLE))))"
    " * 1000000, 0) AS BIGINT)"
)


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two order snapshots (before
    vs after ``PSI_PIVOT_DATE``) over two feature dimensions — the
    categorical ``o_orderpriority`` and fixed-width ``o_totalprice``
    bins — the standard ML-monitoring drift report (PSI < 0.1 stable,
    0.1–0.25 watch, > 0.25 shifted). Each output row is one
    (dimension, bucket) with both snapshot counts, both micro-quantized
    proportions, and the bucket's PSI contribution; summing
    ``psi_contrib_micro`` per dimension gives the headline PSI.

    Exactness: counts are int64; the contribution is ONE shared
    expression string (ln + the 1e-6 smoothing floor inside it) so
    both engines run the identical IEEE sequence, rounded once.
    A bucket present in only one snapshot still surfaces (count 0 on
    the other side — both sides aggregate in ONE conditional groupBy,
    so nothing is silently dropped and no outer join is needed).

    Scale shape: one scan with conditional aggregation (a
    date-partitioned lake reads both snapshots' partitions in the one
    pass), one combinable groupBy per dimension over the BOUNDED
    bucket key space (|categories| + ``PSI_PRICE_MAX_BIN``+1 rows),
    and a one-row totals broadcast. Nothing is corpus-proportional
    after the first aggregate.
    """
    orders = load_table(spark, sf_dir, "orders")
    pivot = F.lit(PSI_PIVOT_DATE).cast("timestamp")
    is_base = F.col("o_orderdate") < pivot

    dims = [
        ("priority", F.col("o_orderpriority")),
        (
            "price_bin",
            F.least(
                F.floor(F.col("o_totalprice") / PSI_PRICE_BIN),
                F.lit(PSI_PRICE_MAX_BIN),
            ).cast("string"),
        ),
    ]
    totals = orders.agg(
        F.sum(is_base.cast("long")).alias("nb_tot"),
        F.sum((~is_base).cast("long")).alias("nc_tot"),
    )
    parts = []
    for dim_name, key in dims:
        per_bucket = (
            orders.select(
                F.lit(dim_name).alias("dim"),
                key.alias("bucket"),
                is_base.alias("b"),
            )
            .groupBy("dim", "bucket")
            .agg(
                F.sum(F.col("b").cast("long")).alias("n_base"),
                F.sum((~F.col("b")).cast("long")).alias("n_cur"),
            )
        )
        parts.append(per_bucket)
    buckets = parts[0].unionAll(parts[1])
    return (
        buckets.crossJoin(F.broadcast(totals))
        .select(
            "dim",
            "bucket",
            "n_base",
            "n_cur",
            F.expr(
                "CAST(ROUND(CAST(1000000 AS DOUBLE) * n_base / nb_tot, 0)"
                " AS BIGINT)"
            ).alias("p_base_micro"),
            F.expr(
                "CAST(ROUND(CAST(1000000 AS DOUBLE) * n_cur / nc_tot, 0)"
                " AS BIGINT)"
            ).alias("p_cur_micro"),
            F.expr(_PSI_CONTRIB_EXPR).alias("psi_contrib_micro"),
        )
    )


SQL_DRIFT_PSI = f"""
WITH o AS (
  SELECT o_orderpriority,
         CAST(CAST(LEAST(FLOOR(o_totalprice / {PSI_PRICE_BIN!r}),
                         {PSI_PRICE_MAX_BIN}) AS BIGINT) AS VARCHAR)
           AS price_bin,
         (o_orderdate < TIMESTAMP '{PSI_PIVOT_DATE}') AS b
  FROM orders
),
tot AS (
  SELECT CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS nb_tot,
         CAST(SUM(CASE WHEN b THEN 0 ELSE 1 END) AS BIGINT) AS nc_tot
  FROM o
),
buckets AS (
  SELECT 'priority' AS dim, o_orderpriority AS bucket,
         CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN b THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM o GROUP BY o_orderpriority
  UNION ALL
  SELECT 'price_bin', price_bin,
         CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN b THEN 0 ELSE 1 END) AS BIGINT)
  FROM o GROUP BY price_bin
)
SELECT dim, bucket, n_base, n_cur,
       CAST(ROUND(CAST(1000000 AS DOUBLE) * n_base / nb_tot, 0) AS BIGINT)
         AS p_base_micro,
       CAST(ROUND(CAST(1000000 AS DOUBLE) * n_cur / nc_tot, 0) AS BIGINT)
         AS p_cur_micro,
       {_PSI_CONTRIB_EXPR} AS psi_contrib_micro
FROM buckets CROSS JOIN tot
"""


# --------------------------------------------------------------------
# privacy_erase
# --------------------------------------------------------------------

PRIVACY_ERASE_MOD = 97  # erase set: customers with c_custkey % 97 == 0

_PRIVACY_PCT_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * n_purged) / n_total, 0)"
    " AS BIGINT)"
)


def q_privacy_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact sweep: given an erasure set of
    customers (here the deterministic ``c_custkey % {mod} == 0`` —
    in production, the DSAR list), measure the CASCADE a compliant
    purge must delete from every table that references them:
    customers directly, their orders by key, the lineitems of those
    orders (the two-hop cascade a naive per-table key scan misses),
    and their event streams by user id. One audit row per table with
    exact purge counts and the micro-quantized purge fraction — the
    report a data-protection officer signs before the DELETE runs,
    and the verification query after it.

    Scale shape: the erase set is filtered map-side from the customer
    scan; each fact table pays ONE left-semi join against it
    (shuffle_hash-pinned — a DSAR batch can be millions of subjects,
    so no broadcast assumption) plus a combinable count; the lineitem
    cascade reuses the purged-orders keys. Output is 4 rows. At
    100 TB the same semi-joins drive the actual anti-join rewrite
    (delete = keep-complement write, the ``dedup_exact`` shape).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    erase = cust.where(
        F.col("c_custkey") % PRIVACY_ERASE_MOD == 0
    ).select("c_custkey")
    purged_orders = orders.join(
        erase.hint("shuffle_hash"),
        orders.o_custkey == erase.c_custkey,
        "left_semi",
    )

    def audit(name: str, total_df: DataFrame, purged_df: DataFrame):
        t = total_df.agg(F.count("*").alias("n_total"))
        p = purged_df.agg(F.count("*").alias("n_purged"))
        return t.crossJoin(p).select(
            F.lit(name).alias("table_name"), "n_total", "n_purged"
        )

    rows = [
        audit("customer", cust, erase),
        audit("orders", orders, purged_orders),
        audit(
            "lineitem",
            li,
            li.join(
                purged_orders.select("o_orderkey").hint("shuffle_hash"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_semi",
            ),
        ),
        audit(
            "events",
            ev,
            ev.join(
                erase.hint("shuffle_hash"),
                ev.user_id == erase.c_custkey,
                "left_semi",
            ),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.select(
        "table_name",
        "n_total",
        "n_purged",
        F.expr(_PRIVACY_PCT_EXPR).alias("purged_micro"),
    )


q_privacy_erase.__doc__ = q_privacy_erase.__doc__.format(
    mod=PRIVACY_ERASE_MOD
)


SQL_PRIVACY_ERASE = f"""
WITH erase AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {PRIVACY_ERASE_MOD} = 0
),
po AS (
  SELECT o.o_orderkey FROM orders o
  WHERE o.o_custkey IN (SELECT c_custkey FROM erase)
),
audit AS (
  SELECT 'customer' AS table_name,
         (SELECT COUNT(*) FROM customer) AS n_total,
         (SELECT COUNT(*) FROM erase) AS n_purged
  UNION ALL
  SELECT 'orders',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM po)
  UNION ALL
  SELECT 'lineitem',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM po))
  UNION ALL
  SELECT 'events',
         (SELECT COUNT(*) FROM events),
         (SELECT COUNT(*) FROM events
          WHERE user_id IN (SELECT c_custkey FROM erase))
)
SELECT table_name, CAST(n_total AS BIGINT) AS n_total,
       CAST(n_purged AS BIGINT) AS n_purged,
       {_PRIVACY_PCT_EXPR} AS purged_micro
FROM audit
"""

# --------------------------------------------------------------------
# drift_ks
# --------------------------------------------------------------------

# Coarse prefix-sum buckets for the distributed ECDF: o_totalprice is
# domain-bounded (TPC-H-ish order totals < ~600k), so price div 10k is
# a ≤ ~60-row carry table — data-size-independent, broadcast-safe.
KS_PRICE_BUCKET = 10_000.0

# KS = max |c_ref·n_cur − c_cur·n_ref| / (n_ref·n_cur): the numerator
# is exact int64 (≤ n_ref·n_cur ≈ 2.5e7 at sf0.1; the int64 bound is
# ~3e9 rows per side — past that, sample or switch the shared
# expression to double proportions); the one division is a shared
# micro-quantized string so both engines run the identical IEEE ops.
# The CASE guards the degenerate one-sided sample (n_ref or n_cur 0):
# ks_num is 0 there by definition, but 0/0.0 is NaN and a foreign
# ANSI-on session would throw on the BIGINT cast (the CC-signature
# hardening standard) — the guard returns the true value, 0.
_KS_MICRO_EXPR = (
    "CASE WHEN n_ref = 0 OR n_cur = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * ks_num)"
    " / (CAST(n_ref AS DOUBLE) * n_cur), 0) AS BIGINT) END"
)


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic for ``o_totalprice`` between the orders
    before and after ``PSI_PIVOT_DATE`` — the rank-based numeric-drift
    test that sees what ``drift_psi``'s fixed bins can miss. Output is
    one row: both sample sizes, the exact integer numerator
    ``ks_num = max |c_ref·n_cur − c_cur·n_ref|`` over all distinct
    values, and ``ks_micro = round(1e6 · D)`` where ``D`` is the KS
    statistic itself.

    Exactness: per-value counts from one combinable groupBy; the ECDF
    is integer cumulative counts; the cross-multiplied gap avoids any
    per-value division; the single final division is the shared micro
    expression.

    Scale shape: the naive ECDF is a single-partition global window —
    a one-task stage at any scale. This runs the two-phase
    decomposition instead (the ``token_budget_select`` pattern): the
    value domain quantizes into the BOUNDED ``KS_PRICE_BUCKET`` key
    space, running sums are per-bucket (parallel), and a broadcast
    ≤ ~60-row carry table adds the strictly-lower buckets' totals.
    The oracle computes the ECDF THAT way — one plain SQL window — so
    the two-phase equivalence is hash-checked, not argued. After the
    per-value groupBy nothing is corpus-proportional.
    """
    orders = load_table(spark, sf_dir, "orders")
    pivot = F.lit(PSI_PIVOT_DATE).cast("timestamp")
    g = (
        orders.select(
            F.col("o_totalprice").alias("p"),
            (F.col("o_orderdate") < pivot).cast("long").alias("b"),
        )
        .groupBy("p")
        .agg(
            F.sum("b").alias("d1"),
            (F.count("*") - F.sum("b")).alias("d2"),
        )
        .withColumn("bucket", F.floor(F.col("p") / KS_PRICE_BUCKET))
    )
    # carry: totals of strictly LOWER buckets, plus the grand totals —
    # BOTH from the one bounded bucket-totals frame (≤ ~60 rows, so
    # its ordered windows are constant-size stages and the whole thing
    # broadcasts; folding n_ref/n_cur in here saves a third scan of
    # orders and the cross join)

    carry = bucket_carry_totals(
        g.groupBy("bucket").agg(
            F.sum("d1").alias("bd1"), F.sum("d2").alias("bd2")
        ),
        "bucket",
        carry_cols=["bd1", "bd2"],
        total_cols=["bd1", "bd2"],
    ).select(
        "bucket",
        F.col("carry_bd1").alias("carry1"),
        F.col("carry_bd2").alias("carry2"),
        F.col("tot_bd1").alias("n_ref"),
        F.col("tot_bd2").alias("n_cur"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gaps = (
        g.withColumn("r1", F.sum("d1").over(w))
        .withColumn("r2", F.sum("d2").over(w))
        .join(F.broadcast(carry), "bucket")
        .select(
            F.abs(
                (F.col("carry1") + F.col("r1")) * F.col("n_cur")
                - (F.col("carry2") + F.col("r2")) * F.col("n_ref")
            ).alias("gap"),
            "n_ref",
            "n_cur",
        )
    )
    return (
        gaps.groupBy("n_ref", "n_cur")
        .agg(F.max("gap").alias("ks_num"))
        .select("n_ref", "n_cur", "ks_num", F.expr(_KS_MICRO_EXPR).alias("ks_micro"))
    )


SQL_DRIFT_KS = f"""
WITH t AS (
  SELECT o_totalprice AS p,
         CASE WHEN o_orderdate < TIMESTAMP '{PSI_PIVOT_DATE}'
              THEN 1 ELSE 0 END AS b
  FROM orders
),
g AS (
  SELECT p, CAST(SUM(b) AS BIGINT) AS d1,
         CAST(COUNT(*) - SUM(b) AS BIGINT) AS d2
  FROM t GROUP BY p
),
tot AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS n_ref,
         CAST(SUM(d2) AS BIGINT) AS n_cur
  FROM g
),
c AS (
  SELECT CAST(SUM(d1) OVER (ORDER BY p) AS BIGINT) AS c1,
         CAST(SUM(d2) OVER (ORDER BY p) AS BIGINT) AS c2
  FROM g
),
m AS (
  SELECT n_ref, n_cur,
         CAST(MAX(ABS(c1 * n_cur - c2 * n_ref)) AS BIGINT) AS ks_num
  FROM c CROSS JOIN tot
  GROUP BY n_ref, n_cur
)
SELECT n_ref, n_cur, ks_num, {_KS_MICRO_EXPR} AS ks_micro FROM m
"""


# --------------------------------------------------------------------
# privacy_kanon
# --------------------------------------------------------------------

KANON_K = 5  # the k under audit
KANON_BAL_BAND = 200_000  # acctbal band width in cents ($2000)
KANON_BAL_OFFSET = 100_000  # shifts TPC-H's >= -999.99 floor positive

# The customer quasi-identifier every privacy audit classes rows by:
# nation, market segment and account-balance band. The band is integer
# cents div a constant; the offset keeps the dividend non-negative, so
# Spark ``div`` and DuckDB ``//`` agree.
_QI = ("c_nationkey", "c_mktsegment", "bal_band")
_BAL_BAND_EXPR = (
    "(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)"
    f" + {KANON_BAL_OFFSET}) {{div}} {KANON_BAL_BAND}"
)
# The SQL twin of _customer_qi, as a ``cust`` CTE.
_SQL_CUSTOMER_QI = f"""cust AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         {_BAL_BAND_EXPR.format(div="//")} AS bal_band
  FROM customer
)"""


def _customer_qi(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    """The customer columns ``keys`` plus the quasi-identifier columns."""
    return load_table(spark, sf_dir, "customer").select(
        *keys,
        "c_nationkey",
        "c_mktsegment",
        F.expr(_BAL_BAND_EXPR.format(div="div")).alias("bal_band"),
    )


# class-size band: ONE shared CASE string so both engines bin
# identically (sizes are int64 so the comparisons are exact)
_KANON_BAND_EXPR = (
    "CASE WHEN s = 1 THEN '1' WHEN s <= 4 THEN '2-4'"
    " WHEN s <= 9 THEN '5-9' ELSE '10+' END"
)


def q_privacy_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer
    quasi-identifier (nation, market segment, account-balance band):
    group rows into QI equivalence classes, then report the class-size
    distribution as bounded bands — how many classes and rows sit at
    size 1 (unique re-identification), 2-4, 5-9, and 10+ — plus a
    per-band ``violates_k`` flag against ``KANON_K``. The compliance
    twin of ``privacy_erase``: erase handles the deletion request,
    this measures whether the retained table re-identifies anyone.

    Exactness: the balance band is integer cents div a constant
    (offset keeps the dividend non-negative, so Spark ``div`` and
    DuckDB ``//`` agree); class sizes and band rollups are int64
    counts; the band label is one shared CASE string.

    Scale shape: two combinable aggregations (rows → QI classes →
    size bands) — the first shuffles on the QI key exactly like any
    groupBy, the second on the ≤ 4-row band key. Output is ≤ 4 rows;
    nothing after the first aggregate is corpus-proportional.
    """
    classes = _customer_qi(spark, sf_dir).groupBy(*_QI).agg(F.count("*").alias("s"))
    return (
        classes.select(F.expr(_KANON_BAND_EXPR).alias("size_band"), "s")
        .groupBy("size_band")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("s").alias("n_rows"),
            F.max((F.col("s") < KANON_K).cast("boolean")).alias(
                "violates_k"
            ),
        )
    )


SQL_PRIVACY_KANON = f"""
WITH {_SQL_CUSTOMER_QI},
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(COUNT(*) AS BIGINT) AS s
  FROM cust
  GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT {_KANON_BAND_EXPR} AS size_band,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(s) AS BIGINT) AS n_rows,
       MAX(s < {KANON_K}) AS violates_k
FROM classes
GROUP BY size_band
"""


# --------------------------------------------------------------------
# reconcile_sources
# --------------------------------------------------------------------

# status CASE over exact integers, ONE shared string: o_cents is the
# header total, li_cents the detail sum; within_10pct uses cross-
# multiplied integers (10·|diff| ≤ o_cents), no division anywhere
_RECON_STATUS_EXPR = (
    "CASE WHEN o_cents IS NULL THEN 'right_only'"
    " WHEN li_cents IS NULL THEN 'left_only'"
    " WHEN o_cents = li_cents THEN 'exact'"
    " WHEN 10 * ABS(o_cents - li_cents) <= o_cents THEN 'within_10pct'"
    " ELSE 'mismatch' END"
)
_RECON_SHARE_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * n) / n_total, 0) AS BIGINT)"
)


def q_reconcile_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source reconciliation audit — the pipeline-validation
    report every warehouse runs after a load: the order headers'
    ``o_totalprice`` against the detail-side ``SUM(l_extendedprice)``
    per order, FULL-outer-joined so orphans on either side surface,
    each order classified by ONE shared CASE (exact / within 10% /
    mismatch / left_only / right_only — integer cents, tolerance by
    cross-multiplication, no division), then rolled up to a ≤ 5-row
    report with counts, micro shares, and the total absolute drift in
    cents. (On TPC-H-shaped data the header total includes tax and
    discount, so 'mismatch' dominating is the expected ground truth —
    the lane grades the CLASSIFIER, not the data's cleanliness.)

    Scale shape: one combinable detail aggregate (shuffles on the
    join key it is about to join on — co-partitioned, so AQE can
    elide the second exchange), one full outer join, one ≤ 5-key
    rollup with a one-row total broadcast. Nothing after the join is
    row-proportional.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "o_cents"
        ),
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.expr(
                "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("cents").alias("li_cents"))
    )
    recon = o.join(
        li, o["o_orderkey"] == li["l_orderkey"], "full_outer"
    ).select(
        F.expr(_RECON_STATUS_EXPR).alias("status"),
        F.coalesce(
            F.abs(F.col("o_cents") - F.col("li_cents")), F.lit(0)
        ).alias("drift"),
    )
    per = recon.groupBy("status").agg(
        F.count("*").alias("n"),
        F.sum("drift").alias("abs_drift_cents"),
    )
    tot = per.agg(F.sum("n").alias("n_total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "status",
        "n",
        F.expr(_RECON_SHARE_EXPR).alias("share_micro"),
        "abs_drift_cents",
    )


SQL_RECONCILE_SOURCES = f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS o_cents
  FROM orders
),
li AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS li_cents
  FROM lineitem GROUP BY l_orderkey
),
recon AS (
  SELECT {_RECON_STATUS_EXPR} AS status,
         COALESCE(ABS(o_cents - li_cents), 0) AS drift
  FROM o FULL JOIN li ON o.o_orderkey = li.l_orderkey
),
per AS (
  SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(drift) AS BIGINT) AS abs_drift_cents
  FROM recon GROUP BY status
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM per)
SELECT status, n, {_RECON_SHARE_EXPR} AS share_micro, abs_drift_cents
FROM per CROSS JOIN tot
"""


# --------------------------------------------------------------------
# ref_integrity_audit
# --------------------------------------------------------------------

# (child table, fk column, parent table, pk column) — the four
# referential edges the fixture schema declares implicitly; the same
# edges skew_report profiles and the join lanes pay shuffles on
_RI_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("events", "user_id", "customer", "c_custkey"),
)
# CASE-guarded like _KS_MICRO_EXPR (the repo's 0/0 hardening
# standard): an empty child table makes the share 0/0 → NaN, which a
# foreign ANSI session (and DuckDB's CAST) would throw on; the true
# share of zero rows is 0.
_RI_SHARE_EXPR = (
    "CASE WHEN n_rows = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * n_orphans) / n_rows, 0)"
    " AS BIGINT) END"
)


def q_ref_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the load-time gate that catches a
    broken upstream export before any join silently drops (inner) or
    null-pads (outer) the orphans: for each declared FK edge, the
    child row count, NULL-key count, orphan count (non-null keys with
    no parent), and the orphan share in micros. The companion of
    ``reconcile_sources`` (that one audits VALUES across sources,
    this audits KEYS) and of ``data_expectations`` (per-column rules;
    this is the cross-TABLE rule).

    Scale shape, per edge: the parent side reduces to its DISTINCT
    key column first (a combinable aggregate — the parent's width
    never ships), then one left join child→keys and ONE conditional
    aggregate to a single row. The join is ``shuffle_hash``-pinned:
    EVERY parent here grows with the data (customer/part/orders all
    scale with the corpus — only region/nation are fixed dims), so a
    fixture-scale broadcast is exactly the §82 instability — and in
    this direction it is also the driver-OOM trap once a parent's
    key set outgrows memory. The probe confirmed Catalyst chose 4
    broadcasts at fixture scale before the pin. Output is |edges|
    rows.
    """
    parts = []
    for child, fk, parent, pk in _RI_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("_fk"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("_pk"))
            .distinct()
            .hint("shuffle_hash")
        )
        j = c.join(p, c["_fk"] == p["_pk"], "left")
        parts.append(
            j.agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("_fk").isNull().cast("long")).alias("n_null_fk"),
                F.sum(
                    (F.col("_fk").isNotNull() & F.col("_pk").isNull()).cast(
                        "long"
                    )
                ).alias("n_orphans"),
            ).select(
                F.lit(child).alias("child_table"),
                F.lit(fk).alias("fk_col"),
                F.lit(parent).alias("parent_table"),
                "n_rows",
                "n_null_fk",
                "n_orphans",
                F.expr(_RI_SHARE_EXPR).alias("orphan_share_micro"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


def _sql_ref_integrity_audit() -> str:
    blocks = []
    for child, fk, parent, pk in _RI_EDGES:
        blocks.append(f"""
SELECT '{child}' AS child_table, '{fk}' AS fk_col,
       '{parent}' AS parent_table,
       n_rows, n_null_fk, n_orphans,
       {_RI_SHARE_EXPR} AS orphan_share_micro
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN c._fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_fk,
         CAST(SUM(CASE WHEN c._fk IS NOT NULL AND p._pk IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
  FROM (SELECT {fk} AS _fk FROM {child}) c
  LEFT JOIN (SELECT DISTINCT {pk} AS _pk FROM {parent}) p
    ON c._fk = p._pk
)""")
    return " UNION ALL ".join(blocks)


# --------------------------------------------------------------------
# schema_drift_report
# --------------------------------------------------------------------

# The two producer versions, declared ONCE: column → (spark type in
# batch v1, spark type in batch v2); None = absent from that batch.
# v1 lands the even-keyed orders, v2 the odd-keyed ones:
# - o_custkey     int → bigint     (widened: producer outgrew int32)
# - o_totalprice  float → double   (widened: precision upgrade)
# - o_orderstatus string → absent  (dropped)
# - o_pri_len     absent → bigint  (added: derived length metric)
# - o_orderpriority string → int   (CHANGED: incompatible — the case
#   mergeSchema cannot read and the reconciling union must surface)
DRIFT_SPEC: dict[str, tuple[str | None, str | None]] = {
    "o_orderkey": ("bigint", "bigint"),
    "o_custkey": ("int", "bigint"),
    "o_totalprice": ("float", "double"),
    "o_orderstatus": ("string", None),
    "o_orderpriority": ("string", "int"),
    "o_pri_len": (None, "bigint"),
}

# The verdict classifier as ONE shared CASE over spark-style type-name
# strings (both engines see the same STRINGS — Spark's come from the
# landed parquet footers, the oracle's from DRIFT_SPEC literals, which
# is exactly the check: landed physical types must round-trip to the
# declared contract). The widening lattice is the lossless-cast set.
_DRIFT_VERDICT_EXPR = (
    "CASE WHEN t1 IS NULL THEN 'added'"
    " WHEN t2 IS NULL THEN 'dropped'"
    " WHEN t1 = t2 THEN 'unchanged'"
    " WHEN (t1 = 'int' AND t2 = 'bigint') OR (t1 = 'float' AND t2 = 'double')"
    " OR (t1 = 'int' AND t2 = 'double') THEN 'widened'"
    " ELSE 'changed' END"
)


def _drift_batch_paths(sf_dir: str) -> tuple[str, str]:
    """Fingerprint-keyed landed-batch locations under the system temp
    dir (the :mod:`..artifacts` identity rule, same as
    ``orc_interop``: a fixture rewrite changes the path, so a stale
    landing can never satisfy the query)."""

    fp = fixture_fingerprint(sf_dir, "orders")
    name = f"spark_graft_drift_{fp}"
    _sweep_stale_siblings("spark_graft_drift_", name)
    base = os.path.join(tempfile.gettempdir(), name)
    return os.path.join(base, "v1"), os.path.join(base, "v2")


def _land_drift_batches(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write the two producer-version batches as REAL parquet dirs."""
    p1, p2 = _drift_batch_paths(sf_dir)
    o = load_table(spark, sf_dir, "orders")
    v1 = o.where("o_orderkey % 2 = 0").select(
        "o_orderkey",
        F.col("o_custkey").cast("int").alias("o_custkey"),
        F.col("o_totalprice").cast("float").alias("o_totalprice"),
        "o_orderstatus",
        "o_orderpriority",
    )
    v2 = o.where("o_orderkey % 2 = 1").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.length("o_orderpriority").cast("int").alias("o_orderpriority"),
        F.length("o_orderpriority").cast("bigint").alias("o_pri_len"),
    )
    v1.write.mode("overwrite").parquet(p1)
    v2.write.mode("overwrite").parquet(p2)
    return p1, p2


def q_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift audit across two LANDED parquet batches — the
    operational twin of ``read_evolving_parquet`` (sources/catalog.py)
    for the drift classes mergeSchema can and CANNOT absorb: land the
    two producer versions of the orders feed as real parquet, read the
    actual footer schemas back, classify every column through the
    shared verdict CASE (added / dropped / widened / changed /
    unchanged), and quantify each verdict's blast radius as the
    non-null count the RECONCILED union delivers. Reconciliation
    policy (the production rule the report encodes): widening casts
    are lossless and applied; a 'changed' column is NEVER silently
    coerced — the old batch's values surface as NULL so the count
    exposes the gap (a string→int coercion that "mostly parses" is
    how corrupt training corpora happen); dropped/added columns
    null-fill the batch that lacks them, extending the reference's
    warn-never-abort verifier (main.rs:82-128) from CSV names to
    parquet types.

    Exactness: verdicts are string algebra over footer-read type
    names; counts are int64. The oracle recomputes the counts from
    the fixture through the same batch split and renders the DECLARED
    producer contract through the identical CASE — so a landed
    physical type that fails to round-trip (float written, double
    read) hash-mismatches.

    Scale shape: the landing writes are map-only scan→project→encode
    (file-per-task, no shuffle); footer reads are metadata-only; the
    report frame is |columns| rows built driver-side (schemas are
    O(columns) by nature, never data-sized); the one data pass is the
    reconciled union's single combinable aggregate (per-column
    non-null counts in one row), unpivoted via stack to |columns|
    rows and joined to the verdicts broadcast. At 100 TB the landing
    is the pipeline's own output and only the count pass remains —
    one map-side-combinable scan.
    """
    p1, p2 = _land_drift_batches(spark, sf_dir)
    t1 = dict(spark.read.parquet(p1).dtypes)
    t2 = dict(spark.read.parquet(p2).dtypes)
    cols = sorted(t1.keys() | t2.keys())
    verdicts = spark.createDataFrame(
        [(c, t1.get(c), t2.get(c)) for c in cols],
        "column_name string, t1 string, t2 string",
    )
    b1, b2 = spark.read.parquet(p1), spark.read.parquet(p2)

    def reconciled(df: DataFrame, own: dict[str, str]) -> DataFrame:
        outs = []
        for c in cols:
            target = t2.get(c) or t1[c]
            if c not in own:
                outs.append(F.lit(None).cast(target).alias(c))
            elif own[c] == target or (own[c], target) in (
                ("int", "bigint"),
                ("float", "double"),
                ("int", "double"),
            ):
                outs.append(F.col(c).cast(target).alias(c))
            else:  # changed: never silently coerced
                outs.append(F.lit(None).cast(target).alias(c))
        return df.select(*outs)

    union = reconciled(b1, t1).unionByName(reconciled(b2, t2))
    counts_row = union.agg(
        *[F.count(F.col(c)).alias(c) for c in cols]
    )
    stack_expr = ", ".join(f"'{c}', {c}" for c in cols)
    counts = counts_row.select(
        F.expr(
            f"stack({len(cols)}, {stack_expr}) AS (column_name, n_nonnull)"
        )
    )
    return counts.join(F.broadcast(verdicts), "column_name").select(
        "column_name",
        "t1",
        "t2",
        F.expr(_DRIFT_VERDICT_EXPR).alias("verdict"),
        "n_nonnull",
    )


def _sql_schema_drift_report() -> str:
    spec_rows = ", ".join(
        "('{c}', {t1}, {t2})".format(
            c=c,
            t1=f"'{t1}'" if t1 else "NULL",
            t2=f"'{t2}'" if t2 else "NULL",
        )
        for c, (t1, t2) in sorted(DRIFT_SPEC.items())
    )
    # non-null counts the reconciled union must deliver, from the
    # fixture through the same split: v1 = even keys, v2 = odd keys;
    # widened/unchanged count both batches, dropped counts v1 only,
    # added counts v2 via its derivation source, changed counts v2
    # only (v1 is never coerced)
    return f"""
WITH spec(column_name, t1, t2) AS (VALUES {spec_rows}),
counts(column_name, n_nonnull) AS (
  SELECT 'o_orderkey', CAST(COUNT(o_orderkey) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(COUNT(o_custkey) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'o_totalprice', CAST(COUNT(o_totalprice) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', CAST(COUNT(o_orderstatus) AS BIGINT)
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT 'o_orderpriority', CAST(COUNT(o_orderpriority) AS BIGINT)
  FROM orders WHERE o_orderkey % 2 = 1
  UNION ALL
  SELECT 'o_pri_len', CAST(COUNT(o_orderpriority) AS BIGINT)
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT column_name, t1, t2, {_DRIFT_VERDICT_EXPR} AS verdict, n_nonnull
FROM counts JOIN spec USING (column_name)
"""


# --------------------------------------------------------------------
# privacy_ldiv
# --------------------------------------------------------------------

LDIV_L = 2  # the l under audit (l = 1 is attribute disclosure)

# diversity band over the per-class distinct-sensitive count: ONE
# shared CASE string (counts are int64, comparisons exact)
_LDIV_BAND_EXPR = (
    "CASE WHEN lv = 1 THEN '1' WHEN lv = 2 THEN '2'"
    " WHEN lv <= 4 THEN '3-4' ELSE '5+' END"
)


def q_privacy_ldiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., TKDD 2007) — the
    attribute-disclosure complement of ``privacy_kanon``: k-anonymity
    bounds RE-IDENTIFICATION (class sizes), but a large class whose
    rows all share one sensitive value still leaks that value to
    anyone who can place a person in the class. Released view under
    audit: orders enriched with the customer quasi-identifier (the
    same QI as ``privacy_kanon`` — nation, market segment,
    account-balance band); sensitive attribute: ``o_orderpriority``.
    Per QI class, ``lv`` = distinct sensitive values; the report
    rolls classes into bounded diversity bands (1 = disclosure, 2,
    3-4, 5+) with class/row counts and a ``violates_l`` flag against
    ``LDIV_L``.

    Exactness: the balance band reuses ``privacy_kanon``'s offset
    div (Spark ``div`` ≡ DuckDB ``//`` on non-negative dividends);
    distinct counts and rollups are int64; the band label is one
    shared CASE.

    Scale shape: one shuffle_hash-pinned key join (customer grows
    with the corpus — a fixture-scale broadcast is the §82 trap),
    then two combinable aggregations (rows → QI classes → ≤ 4 bands).
    Nothing after the first aggregate is corpus-proportional.
    """

    cust = _customer_qi(spark, sf_dir, "c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    j = o.join(
        cust.hint("shuffle_hash"),
        o["o_custkey"] == cust["c_custkey"],
    )
    classes = j.groupBy(*_QI).agg(
        F.countDistinct("o_orderpriority").alias("lv"),
        F.count("*").alias("n"),
    )
    return (
        classes.select(F.expr(_LDIV_BAND_EXPR).alias("l_band"), "lv", "n")
        .groupBy("l_band")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("n").alias("n_rows"),
            F.max((F.col("lv") < LDIV_L).cast("boolean")).alias(
                "violates_l"
            ),
        )
    )


SQL_PRIVACY_LDIV = f"""
WITH {_SQL_CUSTOMER_QI},
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS lv,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders JOIN cust ON o_custkey = c_custkey
  GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT {_LDIV_BAND_EXPR} AS l_band,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       MAX(lv < {LDIV_L}) AS violates_l
FROM classes GROUP BY {_LDIV_BAND_EXPR}
"""


# --------------------------------------------------------------------
# privacy_tcloseness
# --------------------------------------------------------------------

# Distance bands as exact integer cross-multiplications of the
# variational distance d = D/(2·N_c·N): d ≤ 0.10 ⟺ 5·D ≤ N_c·N,
# d ≤ 0.20 ⟺ 5·D ≤ 2·N_c·N, d ≤ 0.35 ⟺ 10·D ≤ 7·N_c·N. One shared
# CASE string (the kanon/ldiv band rule); T = 0.35 is the violation
# threshold.
_TCLOSE_BAND_EXPR = (
    "CASE WHEN 5 * d_num <= n_c * n_tot THEN 't<=0.10'"
    " WHEN 5 * d_num <= 2 * n_c * n_tot THEN 't<=0.20'"
    " WHEN 10 * d_num <= 7 * n_c * n_tot THEN 't<=0.35'"
    " ELSE 't>0.35' END"
)
_TCLOSE_MICRO_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * d_num)"
    " / (CAST(2 AS DOUBLE) * n_c * n_tot), 0) AS BIGINT)"
)


def q_privacy_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) —
    the third leg of the compliance trilogy: k-anonymity bounds
    re-identification, l-diversity bounds single-value disclosure,
    and this bounds DISTRIBUTION disclosure — a class whose sensitive
    distribution skews far from the table's global distribution leaks
    information even with many distinct values. Same released view as
    ``privacy_ldiv`` (orders with the customer QI; sensitive =
    ``o_orderpriority``); per QI class, the variational distance
    d = ½·Σ_v |p_c(v) − p(v)|, rolled into bounded distance bands
    with class/row counts, the band's worst distance in micros, and a
    ``violates_t`` flag at t = 0.35.

    Exactness: d is held as the exact integer numerator
    D = Σ_v |n_cv·N − n_v·N_c| — values ABSENT from a class
    contribute (N − Σ_present n_v)·N_c exactly, no per-value
    division; banding and the violation flag are integer
    cross-multiplications, and only the reported worst-micro column
    runs the one pinned double division. DECIMAL/HUGEINT carry the
    products (n_cv·N reaches N² — past int64 around sf1000,
    documented).

    Scale shape: the ldiv discipline — shuffle_hash-pinned QI join
    (customer grows with the corpus), one combinable (class, value)
    aggregate, N_c via a window over the ≤|values|-rows-per-class
    frame, the |values|-row global distribution broadcast-pinned,
    then two bounded aggregations (classes → ≤ 4 bands). Nothing
    after the first aggregate is corpus-proportional.
    """

    cust = _customer_qi(spark, sf_dir, "c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderpriority").alias("v")
    )
    j = o.join(
        cust.hint("shuffle_hash"), o["o_custkey"] == cust["c_custkey"]
    )
    cv = j.groupBy(*_QI, "v").agg(F.count("*").alias("n_cv"))
    cv = cv.withColumn(
        "n_c", F.sum("n_cv").over(Window.partitionBy(*_QI))
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = (
        j.groupBy("v")
        .agg(F.count("*").alias("n_v"))
        .withColumn("n_tot", F.sum("n_v").over(wall))
    )
    cvt = cv.join(F.broadcast(tot), "v")
    dec = "decimal(38,0)"
    per_class = cvt.groupBy(*_QI).agg(
        F.max("n_c").alias("n_c"),
        F.max("n_tot").alias("n_tot"),
        F.sum(
            F.abs(
                F.col("n_cv").cast(dec) * F.col("n_tot")
                - F.col("n_v").cast(dec) * F.col("n_c")
            )
        ).cast(dec).alias("d_present"),
        F.sum("n_v").alias("nv_present"),
    )
    per_class = per_class.withColumn(
        "d_num",
        (
            F.col("d_present")
            + (F.col("n_tot") - F.col("nv_present")).cast(dec)
            * F.col("n_c")
        ).cast(dec),
    )
    return (
        per_class.select(
            F.expr(_TCLOSE_BAND_EXPR).alias("t_band"),
            "n_c",
            F.expr(_TCLOSE_MICRO_EXPR).alias("t_micro"),
            (
                F.lit(10) * F.col("d_num")
                > F.lit(7) * F.col("n_c").cast(dec) * F.col("n_tot")
            ).alias("viol"),
        )
        .groupBy("t_band")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("n_c").alias("n_rows"),
            F.max("t_micro").alias("worst_t_micro"),
            F.max("viol").alias("violates_t"),
        )
    )


SQL_PRIVACY_TCLOSENESS = f"""
WITH {_SQL_CUSTOMER_QI},
j AS (
  SELECT c_nationkey, c_mktsegment, bal_band, o_orderpriority AS v
  FROM orders JOIN cust ON o_custkey = c_custkey
),
cv AS (
  SELECT c_nationkey, c_mktsegment, bal_band, v,
         CAST(COUNT(*) AS BIGINT) AS n_cv
  FROM j GROUP BY 1, 2, 3, 4
),
cv2 AS (
  SELECT *, CAST(SUM(n_cv) OVER (PARTITION BY c_nationkey,
            c_mktsegment, bal_band) AS BIGINT) AS n_c
  FROM cv
),
tot AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_v,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_tot
  FROM j GROUP BY v
),
pc AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         MAX(n_c) AS n_c, MAX(n_tot) AS n_tot,
         SUM(ABS(CAST(n_cv AS HUGEINT) * n_tot
                 - CAST(n_v AS HUGEINT) * n_c)) AS d_present,
         CAST(SUM(n_v) AS BIGINT) AS nv_present
  FROM cv2 JOIN tot USING (v)
  GROUP BY 1, 2, 3
),
cls AS (
  SELECT *,
         d_present + CAST(n_tot - nv_present AS HUGEINT) * n_c AS d_num
  FROM pc
)
SELECT {_TCLOSE_BAND_EXPR} AS t_band,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(n_c) AS BIGINT) AS n_rows,
       CAST(MAX({_TCLOSE_MICRO_EXPR}) AS BIGINT) AS worst_t_micro,
       MAX(10 * d_num > 7 * CAST(n_c AS HUGEINT) * n_tot) AS violates_t
FROM cls GROUP BY 1
"""


QUERIES: list[Query] = [
    Query(
        "profile_table",
        q_profile_table,
        SQL_PROFILE_TABLE,
        ("relational", "quality", "profiling"),
    ),
    Query(
        "data_expectations",
        q_data_expectations,
        SQL_DATA_EXPECTATIONS,
        ("relational", "quality", "validation"),
    ),
    Query(
        "value_histogram",
        q_value_histogram,
        SQL_VALUE_HISTOGRAM,
        ("relational", "profiling"),
    ),
    Query(
        "robust_stats",
        q_robust_stats,
        SQL_ROBUST_STATS,
        ("relational", "profiling", "window"),
    ),
    Query(
        "drift_psi",
        q_drift_psi,
        SQL_DRIFT_PSI,
        ("relational", "quality", "monitoring", "statistics"),
    ),
    Query(
        "privacy_erase",
        q_privacy_erase,
        SQL_PRIVACY_ERASE,
        ("relational", "privacy", "compliance", "join"),
    ),
    Query(
        "drift_ks",
        q_drift_ks,
        SQL_DRIFT_KS,
        ("relational", "quality", "monitoring", "statistics"),
        bench=True,  # the two-phase distributed ECDF, timed
    ),
    Query(
        "privacy_kanon",
        q_privacy_kanon,
        SQL_PRIVACY_KANON,
        ("relational", "privacy", "compliance", "agg"),
    ),
    Query(
        "reconcile_sources",
        q_reconcile_sources,
        SQL_RECONCILE_SOURCES,
        ("relational", "quality", "join", "monitoring"),
    ),
    Query(
        "ref_integrity_audit",
        q_ref_integrity_audit,
        _sql_ref_integrity_audit(),
        ("relational", "quality", "join", "monitoring"),
    ),
    Query(
        "schema_drift_report",
        q_schema_drift_report,
        _sql_schema_drift_report(),
        ("relational", "quality", "source", "monitoring"),
    ),
    Query(
        "privacy_ldiv",
        q_privacy_ldiv,
        SQL_PRIVACY_LDIV,
        ("relational", "privacy", "compliance", "agg"),
    ),
    Query(
        "privacy_tcloseness",
        q_privacy_tcloseness,
        SQL_PRIVACY_TCLOSENESS,
        ("relational", "privacy", "compliance", "agg"),
    ),
]
