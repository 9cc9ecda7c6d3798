"""Relational operators (SURVEY.md §2B): scans, filters, aggregates,
joins, windows, subqueries, the raw-SQL frontend, reshaping, UDF
surfaces, product analytics (funnels, cohorts, baskets, paths), the
ORC/JSONL format round trips, Z-order layout, and skew handling.

Every function is a lazy DataFrame builder ``(spark, sf_dir) -> DataFrame``;
the paired DuckDB oracle SQL sits next to it. Design rules (SURVEY.md §7
risk #1):

- every computed column aliased identically in Spark and SQL;
- double aggregates go through the decimal-sum pattern
  (:mod:`..functions.numeric`) so values are bitwise-stable;
- every ``LIMIT`` is under a total order (tie-break on a key);
- set operations use distinct (SQL) semantics on both sides.

Scale notes are attached per-operator where the plan shape matters at
100 TB (broadcast vs shuffle join, partial aggregation, TakeOrdered).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window

from ..artifacts import fixture_fingerprint
from ..functions.numeric import davg, davg_sql, dsum, fp_ratio
from ..plans.spec import Query
from ..sources.catalog import load_table, register_views, spread


# --- scan / project / filter -------------------------------------------------

def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain parquet scan (reference A3/A6 analogue on the fixture catalog)."""
    return load_table(spark, sf_dir, "region")


SQL_SCAN_PARQUET = "SELECT r_regionkey, r_name FROM region"


def q_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate (reference A5 plus a filter).

    Scale: both the 4-column projection and the quantity predicate reach
    the parquet reader (ReadSchema / PushedFilters) — row groups whose
    min/max exclude ``l_quantity > 45`` are never decoded.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


SQL_PROJECT_FILTER = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_quantity > 45
"""


def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: AND/OR/NOT, IN, BETWEEN, LIKE, IS NULL."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(
        (
            F.col("o_orderstatus").isin("F", "P")
            & F.col("o_totalprice").between(50_000, 150_000)
        )
        | (
            F.col("o_orderpriority").like("1-%")
            & ~F.col("o_orderstatus").isin("P")
            & F.col("o_totalprice").isNotNull()
        )
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


SQL_FILTER_COMPOUND = """
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE (o_orderstatus IN ('F', 'P') AND o_totalprice BETWEEN 50000 AND 150000)
   OR (o_orderpriority LIKE '1-%' AND NOT o_orderstatus IN ('P')
       AND o_totalprice IS NOT NULL)
"""


# --- aggregation -------------------------------------------------------------

def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation (sum/avg/count per group).

    Scale: groupBy on 6-ish distinct keys → near-total map-side partial
    aggregation; the shuffle moves one row per (partition, group). The
    decimal accumulators keep that property (partial sums are decimals)
    AND make the plan layout-invariant, which licenses ``spread()``:
    the fixture files carry a single parquet row group, so without it
    the decimal-heavy partial aggregation runs on ≤3 scan tasks
    (measured 1.70 s → 1.11 s at sf0.1 with the round-robin widen; at
    real scale the input has many splits and spread() is a no-op).
    """
    li = spread(load_table(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
            # conditional aggregation (count_if / FILTER), folded in from
            # the former agg_conditional entry — one pass, same shuffle
            F.count_if(F.col("l_returnflag") == "R").alias("n_returned"),
            F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
            F.count_if(F.col("l_quantity") >= 40).alias("n_bulk"),
        )
    )


SQL_AGG_GROUP = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_charge,
  {davg_sql("l_quantity", "avg_qty")},
  {davg_sql("l_extendedprice", "avg_price")},
  {davg_sql("l_discount", "avg_disc")},
  COUNT(*) AS count_order,
  COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
  COUNT(*) FILTER (WHERE l_quantity >= 40) AS n_bulk
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT / COUNT(DISTINCT) exact forms, plus the HyperLogLog++
    approximate variant graded as a tolerance invariant.

    Scale: count-distinct expands to a two-phase aggregate (distinct on
    (group, key) then count) — Spark plans this itself; no driver-side
    ``.distinct().count()`` actions. The approx sketch is THE
    count-distinct at 100 TB — constant-size, mergeable, one shuffle of
    sketches instead of a distinct-expand. Its estimate is
    algorithm-specific, so the oracle checks the accuracy CONTRACT
    instead of the value: ``approx_parts_ok`` asserts the deterministic
    HLL++ estimate lands within 5% of the exact count (rsd is 0.01);
    the oracle's side of that boolean is literal TRUE.
    """
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.countDistinct("l_partkey")
    approx = F.approx_count_distinct("l_partkey", 0.01)
    return li.groupBy("l_returnflag").agg(
        exact.alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count("*").alias("n_rows"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            / exact.cast("double")
            <= 0.05
        ).alias("approx_parts_ok"),
    )


SQL_AGG_DISTINCT = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_supps,
       COUNT(*) AS n_rows,
       TRUE AS approx_parts_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with grouping_id."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_rows"),
            dsum("l_quantity", "sum_qty"),
        )
    )


SQL_AGG_ROLLUP_CUBE = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --- joins -------------------------------------------------------------------

def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: revenue by nation — lineitem ⋈ orders ⋈ customer ⋈ nation.

    Scale: lineitem⋈orders and orders⋈customer are shuffle hash/SMJ on
    their keys (AQE picks; both sides large). nation is broadcast — a
    25-row dim must never shuffle the fact table. Filters on shipdate
    push to the lineitem scan before the first join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"), F.count("*").alias("n_items"))
    )


SQL_JOIN_INNER = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER + FULL OUTER in one pipeline (former join_outer and
    join_full_outer entries, merged for the graded-registry budget).

    Stage 1 (left): positive-balance customers keep their big-order
    aggregate even with zero matches. Stage 2 (full): that left-hand
    result full-outer-joins the finished-order aggregate — customers
    filtered out of stage 1 but present in stage 2 surface as
    right-only rows (null c_name), left-only customers keep
    n_finished = 0, so both outer directions genuinely occur.
    """
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") >= 0)
    o = load_table(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 200_000)
    left = (
        c.join(big, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), "total_spend"),
        )
    )
    fin = (
        o.where(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_finished"))
    )
    return (
        left.join(fin, F.col("c_custkey") == F.col("o_custkey"), "full")
        .select(
            F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
            "c_name",
            "n_big_orders",
            "total_spend",
            F.coalesce(F.col("n_finished"), F.lit(0)).alias("n_finished"),
        )
    )


SQL_JOIN_OUTER = """
WITH lhs AS (
  SELECT c_custkey, c_name,
         COUNT(o_orderkey) AS n_big_orders,
         CAST(ROUND(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(18,8))), 2) AS DOUBLE) AS total_spend
  FROM (SELECT * FROM customer WHERE c_acctbal >= 0) c
  LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o
    ON c_custkey = o_custkey
  GROUP BY c_custkey, c_name
),
fin AS (
  SELECT o_custkey, COUNT(*) AS n_finished
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
)
SELECT COALESCE(c_custkey, o_custkey) AS custkey,
       c_name, n_big_orders, total_spend,
       COALESCE(n_finished, 0) AS n_finished
FROM lhs FULL OUTER JOIN fin ON c_custkey = o_custkey
"""


def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI existence joins, tagged and unioned.

    Scale: semi/anti never materialize the probe payload — only the key
    set of ``orders`` crosses the shuffle (or broadcasts under AQE).
    """
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cond = F.col("c_custkey") == F.col("o_custkey")
    has = c.join(urgent, cond, "left_semi").select(
        "c_custkey", F.lit("has_urgent").alias("tag")
    )
    hasnt = c.join(urgent, cond, "left_anti").select(
        "c_custkey", F.lit("no_urgent").alias("tag")
    )
    return has.unionByName(hasnt)


SQL_JOIN_SEMI_ANTI = """
SELECT c_custkey, 'has_urgent' AS tag FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT c_custkey, 'no_urgent' AS tag FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the region→nation dim chain onto customer.

    Scale: ``F.broadcast`` pins a BroadcastHashJoin regardless of stats —
    the right move for bounded dims; the customer fact never shuffles.

    The ``nations`` column folds in the former agg_string_collect entry
    (ordered string aggregation): collect_set is order-nondeterministic
    under shuffle, so array_sort restores a canonical order before the
    join — never rely on collect order at any scale.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dim = F.broadcast(
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        c.join(dim, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            davg("c_acctbal", "avg_acctbal"),
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"),
        )
    )


SQL_JOIN_BROADCAST = f"""
SELECT r_name,
       COUNT(*) AS n_customers,
       {davg_sql("c_acctbal", "avg_acctbal")},
       array_to_string(list_sort(list_distinct(list(n_name))), ',') AS nations
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + band (range) join: lineitem×part where quantity ≈ p_size.

    Scale: the equi key keeps this a hash join with a residual band
    filter — never a nested-loop. A *pure* band join at scale needs
    binning both sides on the band width and joining on bin (see
    ``q_join_asof`` for the event-time variant).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(
            p,
            (F.col("l_partkey") == F.col("p_partkey"))
            & (F.col("l_quantity") >= F.col("p_size") - 2)
            & (F.col("l_quantity") <= F.col("p_size") + 2),
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_band_matches"))
    )


SQL_JOIN_RANGE = """
SELECT p_brand, COUNT(*) AS n_band_matches
FROM lineitem
JOIN part ON l_partkey = p_partkey
         AND l_quantity >= p_size - 2
         AND l_quantity <= p_size + 2
GROUP BY p_brand
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator Spark lacks natively): for each event,
    the most recent order of the matching customer at event time.

    Composition strategy (SURVEY.md §2B "custom operators" path (a)):
    equi-join on the entity key + inequality on time, then keep rank 1
    per event via a window — all built-ins, no UDF. Scale: the equi key
    bounds the fan-out to orders-per-customer; for unbounded fan-out
    you'd bucket both sides by time range first.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    o = load_table(spark, sf_dir, "orders")
    j = ev.join(
        o,
        (F.col("user_id") == F.col("o_custkey")) & (F.col("o_orderdate") <= F.col("ts")),
        "inner",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("o_orderkey").alias("asof_orderkey"),
            F.col("o_orderdate").alias("asof_orderdate"),
        )
    )


SQL_JOIN_ASOF = """
SELECT event_id, user_id, asof_orderkey, asof_orderdate
FROM (
  SELECT e.event_id, e.user_id,
         o.o_orderkey AS asof_orderkey, o.o_orderdate AS asof_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
  WHERE e.event_type = 'purchase'
) WHERE rn = 1
"""


# --- sort / limit / set ops --------------------------------------------------

def q_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT (top-k) under a total order.

    Scale: Spark plans this as TakeOrderedAndProject — per-partition
    top-k then a k-sized merge on the driver; no global sort.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


SQL_SORT_LIMIT_TOPK = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT with SQL (distinct) semantics, tagged;
    the final branch appends through ``unionByName(allowMissingColumns)``
    (former union_by_name entry) — the schema-evolution-tolerant append,
    where earlier branches fill the late ``segment`` column with nulls."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = o.where(F.col("o_totalprice") > 300_000).select(
        F.col("o_custkey").alias("custkey")
    )
    auto = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("custkey")
    )
    tagged = (
        big.intersect(auto).withColumn("op", F.lit("intersect"))
        .unionByName(big.subtract(auto).withColumn("op", F.lit("except")))
        .unionByName(big.union(auto).distinct().withColumn("op", F.lit("union")))
    )
    evolved = c.where(F.col("c_mktsegment") == "FURNITURE").select(
        F.col("c_custkey").alias("custkey"),
        F.lit("furniture").alias("op"),
        F.col("c_mktsegment").alias("segment"),
    )
    return tagged.unionByName(evolved, allowMissingColumns=True)


SQL_SET_OPS = """
WITH big  AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000),
     auto AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
SELECT custkey, 'intersect' AS op, NULL AS segment FROM (SELECT * FROM big INTERSECT SELECT * FROM auto)
UNION ALL
SELECT custkey, 'except' AS op, NULL AS segment FROM (SELECT * FROM big EXCEPT SELECT * FROM auto)
UNION ALL
SELECT custkey, 'union' AS op, NULL AS segment FROM (SELECT * FROM big UNION SELECT * FROM auto)
UNION ALL
SELECT c_custkey AS custkey, 'furniture' AS op, c_mktsegment AS segment
FROM customer WHERE c_mktsegment = 'FURNITURE'
"""


# --- windows -----------------------------------------------------------------

def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number per partition; top-3 with ties.

    Determinism: rank orders on a coarse bucket (1000-wide price bins) so
    ties genuinely occur; ``rank() <= 3`` keeps whole tie groups (a
    deterministic SET); row_number gets a full tie-break key.

    The row_number window (different spec) is computed BEFORE the rank
    window on purpose: the ``rnk <= 3`` filter then sits directly above
    the rank Window node and Catalyst rewrites it to WindowGroupLimit —
    a per-group k-row heap instead of a full per-group sort, the
    O(n log k) top-k-per-group shape that matters at 100 TB (guarded by
    tests/test_plans.py).
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 1000).alias("price_bucket")
    ranked = o.select("o_orderkey", "o_orderpriority", "o_totalprice", bucket)
    w_rank = Window.partitionBy("o_orderpriority").orderBy(F.col("price_bucket").desc())
    w_rn = Window.partitionBy("o_orderpriority").orderBy(
        F.col("price_bucket").desc(), F.col("o_orderkey").asc()
    )
    return (
        ranked.withColumn("rn", F.row_number().over(w_rn))
        .withColumn("rnk", F.rank().over(w_rank))
        .withColumn("drnk", F.dense_rank().over(w_rank))
        .where(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "price_bucket", "rnk", "drnk", "rn")
    )


SQL_WINDOW_RANK = """
SELECT o_orderpriority, o_orderkey, price_bucket, rnk, drnk, rn
FROM (
  SELECT o_orderpriority, o_orderkey,
         CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_bucket,
         RANK()       OVER (PARTITION BY o_orderpriority ORDER BY FLOOR(o_totalprice / 1000) DESC) AS rnk,
         DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY FLOOR(o_totalprice / 1000) DESC) AS drnk,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY FLOOR(o_totalprice / 1000) DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rnk <= 3
"""


def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window surface in one pass: lag / lead / running-sum
    ROWS frame per customer, a value-based RANGE frame (±5000 price
    neighbors per priority — former window_range_frame entry), and
    IGNORE NULLS gap-filling over a planted-sparse price (former
    window_ignore_nulls entry).

    Running sums evaluate sequentially in frame order (identical on both
    engines given the same total order), so plain double addition is
    already bitwise-stable; decimal cast retained for uniformity. The
    DataFrame ``lag()`` API lacks an ignoreNulls parameter, so the SQL
    expression form is used — it compiles to the same
    ``Lag(_, _, ignoreNulls=true)`` plan node.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_range = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").asc())
        .rangeBetween(-5000, 5000)
    )
    sparse = F.when(F.col("o_orderkey") % 3 != 0, F.col("o_totalprice"))
    return o.withColumn("sparse_price", sparse).select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,8)")).over(frame), 2
        ).cast("double").alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
        F.count("*").over(w_range).alias("n_price_neighbors"),
        "sparse_price",
        F.expr(
            "lag(sparse_price, 1) IGNORE NULLS OVER "
            "(PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)"
        ).alias("prev_obs"),
        F.last("sparse_price", ignorenulls=True).over(frame).alias("filled"),
    )


SQL_WINDOW_ANALYTIC = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       LAG(o_totalprice, 1)  OVER w AS prev_price,
       LEAD(o_totalprice, 1) OVER w AS next_price,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,8)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_spend,
       ROW_NUMBER() OVER w AS order_seq,
       COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC
                      RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING) AS n_price_neighbors,
       CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END AS sparse_price,
       lag(CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END, 1 IGNORE NULLS) OVER w AS prev_obs,
       last_value(CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END IGNORE NULLS) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


# --- scalar functions ---------------------------------------------------------

def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-function surface in one projection (whole-stage codegen
    territory — zero Python in the row path): string / date / math /
    conditional, plus regexp / pad / translate / split / date-arithmetic
    (former scalar_funcs2 entry) and the NULL surface —
    nullif / coalesce / null-safe equality (former null_handling entry;
    the fixtures are null-free, so nulls are *manufactured* with nullif,
    which also keeps the null paths oracle-checkable)."""
    o = load_table(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.upper("o_orderstatus").alias("status_uc"),
        F.concat_ws("#", F.col("o_orderstatus"), F.col("o_orderpriority")).alias("status_prio"),
        F.round(F.col("o_totalprice") / 1000.0, 1).alias("price_k"),
        F.abs(F.col("o_totalprice") - 250_000.0).alias("dist_from_250k"),
        F.when(F.col("o_totalprice") > 250_000, F.lit("big"))
        .when(F.col("o_totalprice") > 100_000, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
        F.length("o_orderpriority").alias("prio_len"),
        # former scalar_funcs2 columns
        F.regexp_extract("o_orderpriority", "^(\\d+)-", 1).alias("prio_num"),
        F.lpad("o_orderstatus", 3, "_").alias("status_pad"),
        F.translate("o_orderpriority", "-", "_").alias("prio_us"),
        F.element_at(F.split("o_orderpriority", "-"), 2).alias("prio_word"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("age_days"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        # former null_handling columns
        status_or_null.alias("status_np"),
        F.coalesce(status_or_null, F.lit("PENDING")).alias("status_filled"),
        status_or_null.eqNullSafe(F.lit(None).cast("string")).alias("is_pending"),
        F.when(status_or_null.isNull(), 0).otherwise(1).alias("has_status"),
    )


SQL_SCALAR_FUNCS = """
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INT) AS order_year,
       CAST(MONTH(o_orderdate) AS INT) AS order_month,
       CAST(DAY(o_orderdate) AS INT) AS order_day,
       SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
       UPPER(o_orderstatus) AS status_uc,
       CONCAT_WS('#', o_orderstatus, o_orderpriority) AS status_prio,
       ROUND(o_totalprice / 1000.0, 1) AS price_k,
       ABS(o_totalprice - 250000.0) AS dist_from_250k,
       CASE WHEN o_totalprice > 250000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'small' END AS size_class,
       CAST(LENGTH(o_orderpriority) AS INT) AS prio_len,
       regexp_extract(o_orderpriority, '^(\\d+)-', 1) AS prio_num,
       lpad(o_orderstatus, 3, '_') AS status_pad,
       translate(o_orderpriority, '-', '_') AS prio_us,
       string_split(o_orderpriority, '-')[2] AS prio_word,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS age_days,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
       nullif(o_orderstatus, 'P') AS status_np,
       COALESCE(nullif(o_orderstatus, 'P'), 'PENDING') AS status_filled,
       nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM NULL AS is_pending,
       CASE WHEN nullif(o_orderstatus, 'P') IS NULL THEN 0 ELSE 1 END AS has_status
FROM orders
"""


# --- subqueries ---------------------------------------------------------------

def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The subquery surface in one query: a scalar subquery (global
    average price), a correlated EXISTS, and a NOT IN anti-subquery
    (former subquery_exists entry, folded in).

    DataFrame composition mirrors what Catalyst rewrites each form into:
    the scalar subquery is a crossJoin with a broadcast 1-row aggregate,
    EXISTS decorrelates to a left-semi join, NOT IN to a (null-aware)
    left-anti join — verify with .explain.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    avg_price = o.agg(davg("o_totalprice", "avg_price", 6))
    bulk = li.where(F.col("l_quantity") > 45).select("l_orderkey")
    machinery = c.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    return (
        o.crossJoin(F.broadcast(avg_price))
        .where(F.col("o_totalprice") > F.col("avg_price"))
        .join(bulk, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(machinery, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


SQL_SUBQUERY_SCALAR = f"""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders o
WHERE o_totalprice > (
  SELECT {davg_sql("o_totalprice", "avg_price")}
  FROM orders
)
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
  AND o.o_custkey NOT IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'MACHINERY')
"""


# --- percentile / pivot --------------------------------------------------------

def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) per group.

    ``F.percentile`` is the exact (sort-based) aggregate — deterministic,
    unlike approx_percentile — and matches DuckDB's quantile_cont.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90_price"),
        F.count("*").alias("n_rows"),
    )


SQL_AGG_PERCENTILE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch) graded as an
    accuracy contract, the same pattern as ``agg_distinct``'s HLL++.

    ``percentile_approx`` is THE quantile at 100 TB: constant-size
    mergeable sketch, one shuffle of sketches, versus the exact
    aggregate's per-group sort. Its value is sketch- and layout-
    specific, so the oracle checks the GK guarantee instead: with
    accuracy=1000 the rank error is ≤ 0.1%, so the approximate median
    must land within the exact [p49, p51] value band (a 10× safety
    margin). ``approx_median_ok`` is that boolean; the oracle's side is
    literal TRUE next to exact medians it recomputes with
    ``quantile_cont``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000))
    lo = F.percentile("l_extendedprice", F.lit(0.49))
    hi = F.percentile("l_extendedprice", F.lit(0.51))
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("median_exact"),
        ((approx >= lo) & (approx <= hi)).alias("approx_median_ok"),
    )


SQL_AGG_APPROX_QUANTILE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_exact,
       TRUE AS approx_median_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → unpivot roundtrip: order counts per priority (rows) ×
    status (columns), then melted back to long (measure, n) rows —
    both reshape directions in one plan (former separate pivot and
    unpivot entries).

    ``.pivot`` with an explicit value list — never the value-discovering
    form, which costs an extra scan and breaks plan determinism. The
    unpivot runs as a Generate (row expansion), no extra shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
        )
    )
    return wide.unpivot(
        ["o_orderpriority"], ["n_f", "n_o", "n_p"], "status_col", "n"
    )


SQL_PIVOT = """
WITH wide AS (
  SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, name AS status_col, n
FROM wide UNPIVOT (n FOR name IN (n_f, n_o, n_p))
"""


# --- skew-aware join -----------------------------------------------------------

N_SALTS = 8


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: explicit skew mitigation with identical semantics.

    Pattern: add salt = hash(row) % N to the skewed (fact) side,
    replicate the dim side N×, join on (key, salt). Verified against
    the plain-join oracle — the result must be identical. At scale this
    (or AQE skew-split) is what stops one hot key from pinning a task.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    salted_fact = li.withColumn(
        "_salt", (F.xxhash64("l_orderkey", "l_linenumber") % N_SALTS + N_SALTS) % N_SALTS
    )
    salts = spark.range(N_SALTS).select(F.col("id").cast("int").alias("_salt"))
    replicated_dim = p.crossJoin(F.broadcast(salts))
    return (
        salted_fact.join(
            replicated_dim,
            (F.col("l_partkey") == F.col("p_partkey"))
            & (salted_fact["_salt"] == replicated_dim["_salt"]),
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), dsum("l_extendedprice", "brand_revenue"))
    )


SQL_JOIN_SKEW_SALTED = """
SELECT p_brand, COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,8))), 2) AS DOUBLE) AS brand_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --- SQL frontend (TPC-H Q5 text) ----------------------------------------------

def q_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL surface: IDENTICAL query text runs on spark.sql and
    on the DuckDB oracle — users can bring ANSI SQL instead of DataFrame
    code. The text is the TPC-H Q5 shape (revenue where supplier and
    customer share a nation): a 6-table join where Catalyst broadcasts
    the nation/region dims from stats and AQE handles the rest — the
    declarative twin of the hand-tuned DataFrame joins in
    ``operators.relational``.
    """
    register_views(spark, sf_dir)
    return spark.sql(SQL_SQL_FRONTEND)


SQL_SQL_FRONTEND = """
SELECT r_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extreme + bitwise aggregates per event type: min_by / max_by
    find the event holding each group's value extreme, and
    bit_and / bit_or / bit_xor fold the user-id bitmaps (former
    agg_bitwise entry — flag-mask folding; associative and commutative,
    so fully map-side-combinable).

    Arg-extreme determinism: both engines pick ONE extreme row but tie
    order is engine-specific, so the comparator packs
    (value-in-cents, event_id) into a single exact int64 — an
    unambiguous total order for identical extreme selection everywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    rank_key = (
        F.round(F.col("value") * 100).cast("long") * 10_000_000_000
        + F.col("event_id")
    )
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", rank_key).alias("peak_event"),
        F.min_by("event_id", rank_key).alias("low_event"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
        F.bit_and("user_id").alias("mask_and"),
        F.bit_or("user_id").alias("mask_or"),
        F.bit_xor("user_id").alias("mask_xor"),
        F.count("*").alias("n"),
    )


SQL_AGG_ARGMINMAX = """
SELECT event_type,
       arg_max(event_id, CAST(ROUND(value * 100) AS BIGINT) * 10000000000 + event_id) AS peak_event,
       arg_min(event_id, CAST(ROUND(value * 100) AS BIGINT) * 10000000000 + event_id) AS low_event,
       MAX(value) AS max_value,
       MIN(value) AS min_value,
       bit_and(user_id) AS mask_and,
       bit_or(user_id)  AS mask_or,
       bit_xor(user_id) AS mask_xor,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


@pandas_udf(DoubleType())
def _avg_qty_udaf(qty: pd.Series) -> float:
    # GROUPED_AGG pandas UDAF. Quantities are integer-valued doubles, so
    # the numpy sum is exact and order-independent → oracle-safe.
    return float(qty.sum() / len(qty))


def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate via pandas GROUPED_AGG (Arrow per-group).

    Spark disallows mixing GROUPED_AGG UDFs with JVM aggregates in one
    agg() — the UDAF stands alone here.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _avg_qty_udaf("l_quantity").alias("avg_qty_udaf"),
    )


SQL_UDAF_GROUPED = """
SELECT l_returnflag,
       SUM(l_quantity) / COUNT(*) AS avg_qty_udaf
FROM lineitem GROUP BY l_returnflag
"""


def q_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime surface over event time: epoch seconds, parts, formatted
    strings (Spark ``date_format`` pattern vs DuckDB ``strftime`` —
    different pattern languages, same rendered values)."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.date_trunc("second", F.col("ts"))
    return ev.select(
        "event_id",
        F.unix_timestamp(ts).alias("epoch_s"),
        F.hour(ts).alias("ev_hour"),
        F.minute(ts).alias("ev_minute"),
        F.dayofweek(ts).alias("ev_dow"),
        F.date_format(ts, "yyyy-MM-dd HH:mm").alias("ts_fmt"),
        F.to_date(ts).alias("ev_date"),
    )


SQL_DATETIME_FUNCS = """
SELECT event_id,
       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
       CAST(hour(ts) AS INT) AS ev_hour,
       CAST(minute(ts) AS INT) AS ev_minute,
       CAST(dayofweek(ts) + 1 AS INT) AS ev_dow,
       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M') AS ts_fmt,
       CAST(ts AS DATE) AS ev_date
FROM events
"""


def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function surface over the embedding column:
    filter / exists / fold / min-max / slice — all Catalyst
    expressions, no UDFs, so they run inside whole-stage codegen.

    The fold accumulates left-to-right in array order in double
    precision, the same order DuckDB's ``list_sum`` uses on DOUBLE[],
    so even the float reduction carries an exact oracle.

    Final projection is all scalars: the driver's canonicalizer cannot
    hash array cells (round-1 fail), so the ``slice`` demo folds its
    4-element head to a rounded sum instead of emitting the array.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    as_double = F.transform(e, lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        F.exists(e, lambda x: x > 0.5).alias("any_big"),
        F.round(
            F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("esum"),
        F.array_max(as_double).alias("emax"),
        F.array_min(as_double).alias("emin"),
        F.round(
            F.aggregate(
                F.slice(as_double, 1, 4), F.lit(0.0), lambda acc, x: acc + x
            ),
            6,
        ).alias("head4_sum"),
    )


SQL_HIGHER_ORDER_FUNCS = """
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       len(list_filter(embedding, x -> x > 0.5)) > 0 AS any_big,
       ROUND(list_sum(CAST(embedding AS DOUBLE[])), 6) AS esum,
       list_max(CAST(embedding AS DOUBLE[])) AS emax,
       list_min(CAST(embedding AS DOUBLE[])) AS emin,
       ROUND(list_sum(list_slice(CAST(embedding AS DOUBLE[]), 1, 4)), 6) AS head4_sum
FROM embeddings
"""


def q_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp surface over document text: extract-first, extract-all
    (array), boolean match, and group-referencing replace. All JVM
    regex engines — but note Spark uses Java regex and DuckDB uses RE2;
    the patterns here stay in the common subset (no backrefs in
    patterns, POSIX classes spelled explicitly).

    The extract-all array is serialized with ``array_join`` in the
    final projection — the driver's canonicalizer cannot hash array
    cells (round-1 fail), and a joined string of string matches is
    engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.array_join(
            F.regexp_extract_all("text", F.lit("[0-9]+")), ","
        ).alias("numbers"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"))).alias("n_numbers"),
        F.col("text").rlike("data").alias("mentions_data"),
        F.regexp_replace("text", "[aeiou]", "_").alias("devoweled"),
    )


SQL_REGEXP_FUNCS = """
SELECT doc_id,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       COALESCE(array_to_string(regexp_extract_all(text, '[0-9]+'), ','), '') AS numbers,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
       regexp_matches(text, 'data') AS mentions_data,
       regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled
FROM documents
"""


def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): rows with
    null keys match each other instead of disappearing — the behavior
    audits and SCD merges usually want. Planted nulls (every 7th
    event's type) make the difference visible against a plain join."""
    ev = load_table(spark, sf_dir, "events")
    typed = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 != 0, F.col("event_type")).alias("et"),
    )
    counts = (
        typed.groupBy("et")
        .agg(F.count("*").alias("n_of_type"))
        .withColumnRenamed("et", "cet")
    )
    return typed.join(
        counts, F.col("et").eqNullSafe(F.col("cet")), "inner"
    ).select("event_id", F.col("et").alias("event_type"), "n_of_type")


SQL_JOIN_NULL_SAFE = """
WITH typed AS (
  SELECT event_id,
         CASE WHEN event_id % 7 <> 0 THEN event_type END AS et
  FROM events
),
counts AS (SELECT et, COUNT(*) AS n_of_type FROM typed GROUP BY et)
SELECT t.event_id, t.et AS event_type, c.n_of_type
FROM typed t JOIN counts c ON t.et IS NOT DISTINCT FROM c.et
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from an event
    log: per user, order value observations by event time, collapse
    runs of unchanged values, and emit versioned rows with
    ``valid_from`` / ``valid_to`` / ``is_current`` — the batch
    equivalent of a warehouse MERGE pipeline.

    Two windows over the same (user_id → ts, event_id) partitioning:
    the change filter (null-safe lag compare) and the validity range
    (lead). Catalyst plans ONE sort+shuffle and runs both window
    functions over it. Keys are user_id — uniform, no skew; state per
    partition is one user's history, so the plan survives any corpus
    where single-key history fits an executor (the same bound every
    SCD2 build has).
    """
    ev = load_table(spark, sf_dir, "events")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        ev.select("user_id", "ts", "event_id", "value")
        .withColumn("prev_value", F.lag("value").over(w))
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) | ~F.col("value").eqNullSafe(F.col("prev_value")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changed.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        "value",
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


SQL_SCD2_HISTORY = """
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         lag(value) OVER w AS prev_value,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, ts, event_id, value
  FROM ordered
  WHERE rn = 1 OR value IS DISTINCT FROM prev_value
)
SELECT user_id, ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       value,
       lead(ts) OVER w2 IS NULL AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

# Bloom geometry: 16384 bits / 3 hashes ≈ 1.6% false positives at 1k
# keys — prune rate is all that matters (correctness comes from the
# exact join behind it). 256 longs ≈ 2 KB: constant-foldable and far
# below any broadcast/driver concern at ANY corpus size, because the
# array size is fixed up front, not data-dependent.
BLOOM_BITS = 16_384
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_HASHES = 3
BLOOM_SEGMENT = "BUILDING"


def _bloom_test(key_sql: str, i: int) -> str:
    pos = f"pmod(xxhash64({key_sql}, {i}), {BLOOM_BITS})"
    return (
        f"(element_at(bf, cast({pos} div 64 as int) + 1)"
        f" & shiftleft(1L, cast({pos} % 64 as int))) != 0"
    )


def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of BUILDING-segment customers, pre-pruned by a Bloom
    filter on the scan side before the exact semi-join settles it.

    At 100 TB the semi-join's small side (here: one segment's customer
    keys) often still exceeds broadcast limits, while a fixed-size
    Bloom of those keys does not: the probe runs inside the fact
    scan's WholeStageCodegen as pure bit arithmetic on a 2 KB literal
    array, dropping ~98% of non-matching rows before the shuffle; the
    exact semi-join then only sees survivors, so false positives
    cannot reach the output. Build is fully distributed (explode k
    positions → bit_or per word); the driver materializes exactly
    BLOOM_WORDS longs — bounded by construction, like the 16-row IVF
    model (``similarity.py``). Oracle: the plain semi-join, which must
    match bit-for-bit.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    keys = c.where(F.col("c_mktsegment") == BLOOM_SEGMENT).select("c_custkey")

    positions = F.array(
        *[
            F.expr(f"pmod(xxhash64(c_custkey, {i}), {BLOOM_BITS})")
            for i in range(BLOOM_HASHES)
        ]
    )
    words = (
        keys.select(F.explode(positions).alias("pos"))
        .select(
            F.expr("cast(pos div 64 as int)").alias("w"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    by_word = {r.w: r.bits for r in words.collect()}  # ≤ BLOOM_WORDS rows
    bloom = F.array(
        *[F.lit(by_word.get(i, 0)).cast("long") for i in range(BLOOM_WORDS)]
    )

    probe = F.expr(
        " AND ".join(_bloom_test("o_custkey", i) for i in range(BLOOM_HASHES))
    )
    pruned = o.withColumn("bf", bloom).where(probe).drop("bf")
    return (
        pruned.join(keys, pruned.o_custkey == keys.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_price", 2),
        )
    )


SQL_JOIN_BLOOM_PREFILTER = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,8))), 2) AS DOUBLE)
         AS total_price
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'
)
GROUP BY o_orderpriority
"""


CDC_TOMBSTONE = "error"  # the event type that plays the delete marker


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → snapshot: apply the events stream as a latest-wins
    upsert per ``user_id``, with ``{tombstone}`` events acting as
    deletes — the batch form of Delta/Iceberg MERGE or a Kafka
    compacted topic, and the compaction step behind every incremental
    ingest.

    One window over (user_id → ts desc, event_id desc) ranks each
    user's history; rank 1 is the current state, and a tombstone at
    rank 1 removes the key from the snapshot entirely. Catalyst plans
    a single sort+shuffle keyed on user_id (uniform — no skew), and
    WindowGroupLimit keeps per-task state at one row per key below the
    exchange. The non-key payload passes through un-arithmetic'd, so
    it hash-matches the oracle bit-for-bit.
    """
    e = load_table(spark, sf_dir, "events")

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .where(F.col("event_type") != CDC_TOMBSTONE)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("valid_from"),
        )
    )


q_cdc_apply.__doc__ = q_cdc_apply.__doc__.format(tombstone=CDC_TOMBSTONE)

SQL_CDC_APPLY = f"""
WITH latest AS (
  SELECT user_id, event_id, event_type, value, ts
  FROM events
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
)
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_type,
       value AS last_value,
       ts AS valid_from
FROM latest
WHERE event_type <> '{CDC_TOMBSTONE}'
"""


UDTF_MIN_WORD_LEN = 7
UDTF_DOC_CAP = 100


def q_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) + LATERAL join — the real UDTF
    surface, not the ``explode``/``mapInPandas`` shape the registry
    already covers: a user-defined generator expands each document
    into (pos, word) rows for words of length ≥ {minlen}, consumed via
    SQL ``LATERAL``.

    The UDTF runs Arrow-batched (``useArrow=True``) inside
    ``BatchEvalPythonUDTF`` — one python worker pass over the scan,
    no shuffle; the doc_id cap keeps the fixture output bounded and
    pushes down to the parquet scan. Semantics are deliberately also
    expressible as pure SQL (DuckDB's indexed list_transform +
    unnest) so the operator earns a FULL oracle — the point is the
    API surface and its plan shape, proven equivalent, not new
    semantics.
    """

    @udtf(returnType="pos int, word string", useArrow=True)
    class LongWords:
        def eval(self, text: str):
            if text is None:
                return
            for i, w in enumerate(text.split(" ")):
                if len(w) >= UDTF_MIN_WORD_LEN:
                    yield i, w

    spark.udtf.register("long_words", LongWords)
    d = load_table(spark, sf_dir, "documents")
    d.where(F.col("doc_id") < UDTF_DOC_CAP).select("doc_id", "text").createOrReplaceTempView(
        "udtf_docs"
    )
    return spark.sql(
        "SELECT doc_id, pos, word FROM udtf_docs, LATERAL long_words(text)"
    )


q_udtf_lateral.__doc__ = q_udtf_lateral.__doc__.format(minlen=UDTF_MIN_WORD_LEN)

SQL_UDTF_LATERAL = f"""
SELECT doc_id, w.pos, w.word
FROM (
  SELECT doc_id,
         unnest(list_filter(
           list_transform(string_split(text, ' '),
                          (s, i) -> struct_pack(pos := i - 1, word := s)),
           x -> length(x.word) >= {UDTF_MIN_WORD_LEN})) AS w
  FROM documents
  WHERE doc_id < {UDTF_DOC_CAP}
)
"""


HLL_TOLERANCE = 0.05


def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable count-distinct via explicit HLL sketches:
    ``hll_sketch_agg`` per language plus an ``hll_union_agg`` re-merge
    of those per-group sketches into the corpus-wide estimate.

    Why this exists next to ``agg_distinct``'s
    ``approx_count_distinct``: the EXPLICIT sketch objects are the
    100 TB incremental pattern — per-partition/per-day sketches are
    tiny, storable, and re-aggregatable, so a corpus-wide distinct
    count never rescans history (the same property the union row
    exercises here by merging the per-lang sketches instead of
    re-reading documents). Graded as an accuracy contract (SCALE.md
    §13): exact distinct counts computed on both engines bit-for-bit,
    plus a ``sketch_ok`` boolean asserting the HLL estimate lands
    within {tol}% of exact — TRUE on every row, deterministic because
    the sketch is seed-fixed.
    """
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.countDistinct("text").alias("n_exact"),
        F.hll_sketch_agg("text").alias("sk"),
    )
    lang_rows = per_lang.select(
        "lang",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= F.col("n_exact") * HLL_TOLERANCE
        ).alias("sketch_ok"),
    )
    all_row = (
        per_lang.agg(
            F.hll_union_agg("sk").alias("sk"),
        )
        .crossJoin(d.agg(F.countDistinct("text").alias("n_exact")))
        .select(
            F.lit("*all*").alias("lang"),
            "n_exact",
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
                <= F.col("n_exact") * HLL_TOLERANCE
            ).alias("sketch_ok"),
        )
    )
    return lang_rows.unionByName(all_row)


q_agg_hll_sketch.__doc__ = q_agg_hll_sketch.__doc__.format(
    tol=int(HLL_TOLERANCE * 100)
)

SQL_AGG_HLL_SKETCH = """
SELECT lang, COUNT(DISTINCT text) AS n_exact, TRUE AS sketch_ok
FROM documents GROUP BY lang
UNION ALL
SELECT '*all*' AS lang, COUNT(DISTINCT text) AS n_exact, TRUE AS sketch_ok
FROM documents
"""


def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` converts the props JSON string to the binary
    variant encoding once, then ``variant_get`` extracts typed fields
    and ``try_variant_get`` probes an absent path without erroring.

    Versus ``array_map_json``'s ``get_json_object`` (string re-parse
    per path), VARIANT is THE 100 TB semi-structured story: parse
    once into a binary tree, then every extraction is a cheap typed
    walk — and parquet can store the variant column so downstream
    scans never re-parse at all. The aggregation keeps output scalar
    and engine-neutral (long sums are exact); the oracle mirrors with
    DuckDB's JSON extraction, proving the VARIANT path changes the
    encoding, not the answers.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    miss = F.expr("try_variant_get(parse_json(props), '$.absent.path', 'string')")
    return (
        e.select("event_type", k.alias("k"), miss.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("m").alias("n_absent_hits"),
        )
    )


SQL_JSON_VARIANT = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(json_extract_string(props, '$.absent.path')) AS n_absent_hits
FROM events
GROUP BY event_type
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows over orders: quartile (ntile), percent rank,
    cumulative distribution per order-priority group.

    One sort+shuffle serves all three functions (same window spec), and
    ``WindowExec`` streams each partition — per-task state is O(frame),
    not O(partition). Total order (o_totalprice, o_orderkey) makes
    ntile boundaries engine-deterministic. percent_rank/cume_dist are
    rebuilt from their integer ingredients (rank, peer count, n) and
    quantized by HALF-UP INTEGER DIVISION at 6 dp — rounding the
    engines' double ratios instead sits exactly on grid midpoints for
    unlucky (rank, n) pairs, the midpoint class of SCALE.md §34's
    postscript. All intermediates stay ≤ ~2e10, far inside exact
    int64/double range.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wp = Window.partitionBy("o_orderpriority")
    n = F.count("*").over(wp)
    # rank() yields INT; the micro-scaling below would overflow int32
    # for groups past ~1000 rows (measured: negative pct_rank at
    # sf0.01) — everything enters the arithmetic as long
    rk = F.rank().over(w).cast("long")
    # peers-inclusive running count == cume_dist numerator
    le = F.count("*").over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def micro_div(num, den):
        # round(num/den * 1e6) half-up, exact: operands < 2^53
        scaled = num * 1_000_000 * 2 + den
        return F.floor(scaled / (2 * den)).cast("long")

    pct = F.when(n == 1, F.lit(0)).otherwise(micro_div(rk - 1, n - 1))
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        (pct.cast("double") / 1e6).alias("pct_rank"),
        (micro_div(le, n).cast("double") / 1e6).alias("cum_dist"),
    )


SQL_WINDOW_DISTRIBUTION = """
WITH b AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ntile(4) OVER w AS quartile,
         rank()   OVER w AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n,
         COUNT(*) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS le
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
)
SELECT o_orderpriority, o_orderkey, o_totalprice, quartile,
       CAST(CASE WHEN n = 1 THEN 0
                 ELSE ((rk - 1) * 2000000 + (n - 1)) // (2 * (n - 1))
            END AS DOUBLE) / 1000000.0 AS pct_rank,
       CAST((le * 2000000 + n) // (2 * n) AS DOUBLE) / 1000000.0 AS cum_dist
FROM b
"""

# ---------------------------------------------------------------------------
# unpivot_stack


UNPIVOT_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of the lineitem measure columns.

    ``DataFrame.unpivot`` compiles to Catalyst's ``Expand`` node — each
    input row is emitted k times with a constant measure label, entirely
    inside whole-stage codegen: no shuffle, no UDF, output rows = k ×
    input rows with perfect pipelining. At 100 TB the melt is
    scan-bound, and because ``Expand`` sits above the parquet scan the
    untouched 11 columns are pruned away (ReadSchema keeps only ids +
    measures). The l_linenumber = 1 filter is pushed into the scan.
    """
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=list(UNPIVOT_MEASURES),
        variableColumnName="measure",
        valueColumnName="value",
    )


# UNION ALL mirror: dialect-portable and exactly the same multiset
# (values pass through unchanged from parquet, so doubles match bitwise).
SQL_UNPIVOT_STACK = "\nUNION ALL\n".join(
    f"SELECT l_orderkey, l_linenumber, '{m}' AS measure, {m} AS value\n"
    f"FROM lineitem WHERE l_linenumber = 1"
    for m in UNPIVOT_MEASURES
)


# ---------------------------------------------------------------------------
# agg_skew_salted

AGG_SALTS = 8


def q_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation, explicitly two-phase: per event_type
    (6 values — EVERY key is hot at 100 TB) count, exact decimal sum,
    and exact distinct users, with identical semantics to the plain
    groupBy the oracle runs.

    Two patterns in one plan, for the two aggregate classes:

    - ALGEBRAIC (count/sum): pre-aggregate by (key, salt) — salt =
      hash % 8 — then merge by key. Spark's map-side partial
      aggregation already does this implicitly for algebraic
      aggregates; the explicit form is the template for when it
      can't (UDAFs, collect-based intermediates), and costs one extra
      tiny shuffle of 6×8 rows.
    - HOLISTIC (exact distinct): dedup on the FULL (key, user) pair
      first — the shuffle key carries the user, so a hot event_type
      spreads over every partition instead of pinning one task — then
      a map-combinable count per key. This is the scalable exact-
      distinct shape; the HLL lane (``agg_hll_sketch``) is its
      approximate sibling.
    """
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn(
        "_salt", (F.xxhash64("event_id") % AGG_SALTS + AGG_SALTS) % AGG_SALTS
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("value").cast("decimal(18,8)")).alias("ps"),
    )
    merged = partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("ps"), 2).cast("double").alias("sum_value"),
    )
    users = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )
    return merged.join(users, "event_type").select(
        "event_type", "n_events", "sum_value", "n_users"
    )


SQL_AGG_SKEW_SALTED = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# funnel_conversion

FUNNEL_STEPS = ("signup", "view", "purchase")


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → view → purchase: a user converts at
    stage k only via an event at or after their stage-k-1 timestamp
    (earliest qualifying event each time). Output is long-format
    (step, n_users) — the shape dashboards and significance tests
    consume.

    Plan: three per-user min-aggregations chained by (user, ts)
    frames — each stage is one combinable agg over a filtered scan,
    never a per-user sort. At 100 TB the stage frames carry one row
    per converted user, monotonically shrinking but still
    |users|-sized — so the stage joins are PINNED shuffle-hash
    (Catalyst's post-aggregate estimate would broadcast them; a
    billion-user frame on the driver is an OOM, and the user_id keys
    hash uniformly so the shuffle is skew-free).
    Stage frames are localCheckpointed so each events scan happens
    ONCE: without the cut, every later stage (and the final count)
    re-derives its whole prefix chain — measured as 8 exchanges and
    ~6 logical scans for the naive per-stage-count union, vs 3 scans
    here; the counts themselves come from one left-join row over the
    tiny per-user frames, exploded to long format.
    """
    e = load_table(spark, sf_dir, "events")
    s1 = (
        e.where(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint()
    )
    s2 = (
        e.where(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1.hint("shuffle_hash"), "user_id")
        .where(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint()
    )
    s3 = (
        e.where(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2.hint("shuffle_hash"), "user_id")
        .where(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    wide = (
        s1.join(s2.hint("shuffle_hash"), "user_id", "left")
        .join(s3.hint("shuffle_hash"), "user_id", "left")
        .agg(
            F.count("*").alias("n1"),
            F.count("t2").alias("n2"),
            F.count("t3").alias("n3"),
        )
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(f"{i}_{name}").alias("step"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i, name in enumerate(FUNNEL_STEPS, start=1)
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


SQL_FUNNEL_CONVERSION = f"""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts >= s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts >= s2.t2
  GROUP BY e.user_id
)
SELECT '1_{FUNNEL_STEPS[0]}' AS step, COUNT(*) AS n_users FROM s1
UNION ALL
SELECT '2_{FUNNEL_STEPS[1]}' AS step, COUNT(*) AS n_users FROM s2
UNION ALL
SELECT '3_{FUNNEL_STEPS[2]}' AS step, COUNT(*) AS n_users FROM s3
"""


# ---------------------------------------------------------------------------
# retention_cohort

_WEEK_SEC = 7 * 86400


def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: cohort = ISO week of the user's
    first event; a cohort member counts as retained at offset k if
    they have ANY event in cohort_week + k weeks. Long format
    (cohort_week, week_offset, n_users) — the matrix every growth
    dashboard pivots.

    Plan: first-event agg (combinable) + distinct (user, week) pairs
    (the dedup shuffle carries the user key, hot weeks spread — same
    argument as agg_skew_salted's distinct lane) + one final count.
    Week arithmetic is integer epoch math on week-truncated
    timestamps (differences are exact multiples of 604800 s in UTC),
    so offsets are engine-exact.
    """
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = e.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    # first is |users|-sized (per-user first week): pin shuffle-hash —
    # Catalyst's post-aggregate estimate would broadcast it (driver OOM
    # at real user counts); user_id hashes uniformly, no skew
    return (
        active.join(first.hint("shuffle_hash"), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                (
                    F.unix_timestamp("week")
                    - F.unix_timestamp("cohort_week")
                )
                / _WEEK_SEC
            )
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


SQL_RETENTION_COHORT = f"""
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
       CAST((CAST(floor(epoch(week)) AS BIGINT)
             - CAST(floor(epoch(cohort_week)) AS BIGINT)) / {_WEEK_SEC}
            AS BIGINT) AS week_offset,
       COUNT(*) AS n_users
FROM active JOIN first USING (user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# recursive_cte (new in Spark 4: WITH RECURSIVE)

# IDENTICAL SQL text runs on spark.sql and the DuckDB oracle (the
# sql_frontend pattern): ancestor walk over the implicit binary-heap
# hierarchy parent(k) = floor(k / 2) on supplier keys — a
# deterministic parent-child relation derived from fixture data, no
# synthetic table needed. Integer division is spelled
# CAST(FLOOR(x / 2.0) AS BIGINT) because that exact phrase parses and
# means the same thing in both dialects (DuckDB has no DIV, Spark no //).
SQL_RECURSIVE_HIERARCHY = """
WITH RECURSIVE walk(s_suppkey, node, depth) AS (
  SELECT s_suppkey, CAST(s_suppkey AS BIGINT) AS node, 0 AS depth
  FROM supplier
  UNION ALL
  SELECT s_suppkey, CAST(FLOOR(node / 2.0) AS BIGINT) AS node, depth + 1
  FROM walk WHERE node > 1
)
SELECT s_suppkey,
       MAX(depth) AS depth_to_root,
       COUNT(*) AS chain_len,
       CAST(SUM(node) AS BIGINT) AS path_key_sum
FROM walk
GROUP BY s_suppkey
"""


def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE hierarchy traversal (``WITH RECURSIVE``, new in
    Spark 4): walk every supplier's ancestor chain in the implicit
    parent(k) = floor(k/2) tree and aggregate per-node path facts
    (depth to root, chain length, path key sum).

    This is the iterative-fixpoint pattern expressed DECLARATIVELY —
    the engine owns the loop (each recursion level is one self-join
    the planner schedules), where dedup_components/pagerank hand-roll
    their loops for convergence control and custom state. Depth is
    O(log max_key), so the recursion terminates in ~15 levels
    regardless of table size; per-level frames carry (key, node,
    depth) longs only.
    """

    register_views(spark, sf_dir)
    return spark.sql(SQL_RECURSIVE_HIERARCHY)


# ---------------------------------------------------------------------------
# skyline_frontier


def q_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders: keep every order not
    dominated by another that is BOTH no-later and no-cheaper (with at
    least one strict) — "the earliest order at every price level worth
    mentioning", the shape behind best-offer views and trade-off
    frontiers.

    Algorithm: under the total order (date ASC, price DESC, key ASC),
    a row is on the frontier iff its price strictly exceeds the
    running maximum of everything before it (equal-date-higher-price
    rows dominate; equal-(date, price) duplicates keep the lowest key
    — a documented convention that both engines share, making the
    frontier engine-exact).

    Scale shape — the interesting part: a naive global running max is
    a single-partition window. Here it is TWO-PHASE: a running max
    within each month partition (parallel), plus a broadcast-size
    table of per-month maxima whose own running max (a window over
    ~tens of rows) supplies the carry-in from all earlier months —
    the classic scan-local + carry decomposition that turns any
    prefix-extremum into a partitioned pass at 100 TB.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.to_date("o_orderdate").alias("d"),
        F.date_trunc("month", "o_orderdate").alias("m"),
    )
    w_in = Window.partitionBy("m").orderBy(
        "d", F.desc("o_totalprice"), "o_orderkey"
    )
    prev_in = F.max("o_totalprice").over(
        w_in.rowsBetween(Window.unboundedPreceding, -1)
    )
    month_max = o.groupBy("m").agg(F.max("o_totalprice").alias("mx"))
    w_m = Window.orderBy("m")  # ~months rows: tiny by construction
    carry = month_max.select(
        "m",
        F.max("mx")
        .over(w_m.rowsBetween(Window.unboundedPreceding, -1))
        .alias("carry_max"),
    )
    return (
        o.withColumn("prev_in", prev_in)
        .join(F.broadcast(carry), "m")
        .where(
            F.col("o_totalprice")
            > F.greatest(
                F.coalesce("prev_in", F.lit(-1.0)),
                F.coalesce("carry_max", F.lit(-1.0)),
            )
        )
        .select("o_orderkey", F.col("d").alias("o_date"), "o_totalprice")
    )


SQL_SKYLINE_FRONTIER = """
WITH o AS (
  SELECT o_orderkey, o_totalprice,
         CAST(o_orderdate AS DATE) AS d,
         date_trunc('month', o_orderdate) AS m
  FROM orders
),
w AS (
  SELECT *,
         MAX(o_totalprice) OVER (PARTITION BY m
                                 ORDER BY d, o_totalprice DESC, o_orderkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_in
  FROM o
),
mm AS (SELECT m, MAX(o_totalprice) AS mx FROM o GROUP BY m),
carry AS (
  SELECT m,
         MAX(mx) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS carry_max
  FROM mm
)
SELECT o_orderkey, d AS o_date, o_totalprice
FROM w JOIN carry USING (m)
WHERE o_totalprice > greatest(COALESCE(prev_in, -1), COALESCE(carry_max, -1))
"""


# ---------------------------------------------------------------------------
# basket_pairs

BASKET_MIN_SUPPORT = 2


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs ordered together in at
    least 2 orders, with the lift statistic (how much more often than
    independence would predict) — the association-rule primitive
    behind recommenders and cross-sell analytics.

    Plan: order-level presence first (distinct (order, part) — a part
    repeated across lineitems of one order counts once), then the
    within-order pair join keyed on the order (fan-out bounded by
    items-per-order², ~6 pairs for 4-item baskets — linear in orders,
    never |parts|²), a combinable pair count, and two joins onto the
    per-part order counts. Lift is a ratio of exact integer products
    (n_ab·N / (n_a·n_b)) — identical doubles both engines, the safe
    int/int class (SCALE.md §34 mechanism note).
    """
    li = load_table(spark, sf_dir, "lineitem")
    pres = li.select("l_orderkey", "l_partkey").distinct()
    # shuffle_hash on every fact-derived join side: pres (order-part
    # presence) and part_n (per-part counts) both grow with the corpus,
    # and Catalyst's post-aggregate size estimates would broadcast them
    # — a driver OOM at scale. Only the genuinely 1-row total keeps its
    # explicit broadcast. AQE still localizes small cases.
    a = pres.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = pres.select("l_orderkey", F.col("l_partkey").alias("pb")).hint(
        "shuffle_hash"
    )
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    part_n = pres.groupBy("l_partkey").agg(F.count("*").alias("n_part")).hint(
        "shuffle_hash"
    )
    total = pres.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    return (
        pairs.join(
            part_n.select(F.col("l_partkey").alias("pa"), F.col("n_part").alias("n_a")),
            "pa",
        )
        .join(
            part_n.select(F.col("l_partkey").alias("pb"), F.col("n_part").alias("n_b")),
            "pb",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "pa",
            "pb",
            "n_ab",
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


SQL_BASKET_PAIRS = f"""
WITH pres AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
  FROM pres a JOIN pres b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
),
pn AS (SELECT l_partkey, COUNT(*) AS n_part FROM pres GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM pres)
SELECT pa, pb, n_ab,
       ROUND(CAST(n_ab * n_orders AS DOUBLE) / (na.n_part * nb.n_part), 6)
         AS lift
FROM pairs
JOIN pn na ON pa = na.l_partkey
JOIN pn nb ON pb = nb.l_partkey
CROSS JOIN tot
"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each (prev_type → next_type) pair, the transition count and the
    fixed-point conditional probability P(next | prev) — the behavioral
    fingerprint behind session modeling, bot detection, and synthetic
    event generation.

    Plan shape: ONE per-user window shuffle (lag on the (ts, event_id)
    total order — user_id is the high-cardinality key, so the sort is
    fully parallel) feeds a map-side-combinable count whose key space
    is |event_types|² — BOUNDED at 25 rows here and constant in corpus
    size, so the per-source totals are a window sum over that bounded
    cell frame (the ``chi2_contingency`` marginal trick — no join, no
    recomputed subtree; the §45 classification: proportional to a
    constant). The probability goes through the midpoint-free
    fixed-point quotient (``functions/numeric.fp_ratio``) so both
    engines project the identical double.
    """

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    trans = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n_trans")
    )
    wp = Window.partitionBy("prev_type")
    m = trans.select(
        "prev_type",
        "next_type",
        "n_trans",
        F.sum("n_trans").over(wp).alias("n_from"),
    )
    return m.select(
        "prev_type",
        "next_type",
        "n_trans",
        "n_from",
        fp_ratio(F.col("n_trans") * 1_000_000, F.col("n_from"), 6).alias(
            "p_trans"
        ),
    )


SQL_MARKOV_TRANSITIONS = """
WITH p AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
t AS (
  SELECT prev_type, next_type, COUNT(*) AS n_trans
  FROM p WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
m AS (
  SELECT prev_type, next_type, n_trans,
         CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS BIGINT)
           AS n_from
  FROM t
)
SELECT prev_type, next_type, n_trans, n_from,
       CAST((2 * n_trans * 1000000 + n_from)
            // (2 * n_from) AS DOUBLE) / 1000000.0 AS p_trans
FROM m
"""


SESSION_PATH_LEN = 3


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journey paths: each user's first {k} event types (in
    (ts, event_id) order) concatenated into a path string, counted
    across users, with the fixed-point share of users per path — the
    entry-funnel fingerprint product analytics asks for first
    (``funnel_conversion`` checks ONE prescribed ordering; this
    discovers the empirical orderings).

    One per-user window shuffle (rank on the total order, keep rank ≤
    {k}), a per-user slot aggregation (map-side combinable), then a
    count on the path key space — bounded by |event_types|^{k}, so
    everything after the first shuffle is constant-sized at any
    corpus scale. Users with fewer than {k} events keep a shorter
    path (``concat_ws`` skips the null slots on both engines — the
    cross-engine contract the test pins).
    """

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= SESSION_PATH_LEN)
    slots = r.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("rn") == i, F.col("event_type"))
            ).alias(f"s{i}")
            for i in range(1, SESSION_PATH_LEN + 1)
        ]
    )
    paths = slots.select(
        F.concat_ws(
            ">", *[F.col(f"s{i}") for i in range(1, SESSION_PATH_LEN + 1)]
        ).alias("path")
    )
    total = paths.agg(F.count("*").alias("n_total"))
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .crossJoin(F.broadcast(total))
        .select(
            "path",
            "n_users",
            fp_ratio(F.col("n_users") * 1_000_000, F.col("n_total"), 6).alias(
                "share"
            ),
        )
    )


q_session_paths.__doc__ = q_session_paths.__doc__.format(k=SESSION_PATH_LEN)


SQL_SESSION_PATHS = f"""
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
slots AS (
  SELECT user_id,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS s1,
         MAX(CASE WHEN rn = 2 THEN event_type END) AS s2,
         MAX(CASE WHEN rn = 3 THEN event_type END) AS s3
  FROM r WHERE rn <= {SESSION_PATH_LEN} GROUP BY user_id
),
p AS (SELECT concat_ws('>', s1, s2, s3) AS path FROM slots),
t AS (SELECT COUNT(*) AS n_total FROM p)
SELECT p.path, COUNT(*) AS n_users,
       CAST((2 * COUNT(*) * 1000000 + ANY_VALUE(t.n_total))
            // (2 * ANY_VALUE(t.n_total)) AS DOUBLE) / 1000000.0 AS share
FROM p CROSS JOIN t
GROUP BY p.path
"""

# --------------------------------------------------------------------
# orc_interop
# --------------------------------------------------------------------

# The reference's canonical projection, minus the line-level detail
# columns the aggregate never touches (ReadSchema on the ORC scan shows
# exactly these five).
ORC_COLS = (
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
    "l_linestatus",
)


def _sweep_stale_siblings(prefix: str, keep: str) -> None:
    """Remove superseded fingerprint generations of an interop copy
    (same prefix, different key) once they age past the artifacts
    grace period — the :mod:`..artifacts` decommission rule, minus the
    pointer file these write-once-overwrite dirs don't need. Without
    this, every fixture rewrite would strand one dir per lane in
    /tmp forever."""

    from ..artifacts import SWEEP_GRACE_SECONDS

    tmp = tempfile.gettempdir()
    now = time.time()
    for name in os.listdir(tmp):
        if not name.startswith(prefix) or name == keep:
            continue
        p = os.path.join(tmp, name)
        try:
            if now - os.path.getmtime(p) >= SWEEP_GRACE_SECONDS:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def _orc_path(sf_dir: str) -> str:
    """Fingerprint-keyed ORC copy location under the system temp dir
    (the :mod:`..artifacts` identity rule: any rewrite of the fixture
    changes the path, so a stale copy can never satisfy the query)."""
    fp = fixture_fingerprint(sf_dir, "lineitem")
    name = f"spark_graft_orc_{fp}"
    _sweep_stale_siblings("spark_graft_orc_", name)
    return os.path.join(tempfile.gettempdir(), name)


def q_orc_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interop: project lineitem, write it as ORC,
    read the ORC copy back, and fold every surviving value into the
    pricing-summary aggregate. The oracle computes the same aggregate
    straight off the parquet fixture, so the comparison proves the
    ORC roundtrip preserved every row and every value bit-exactly
    (quantity/price via exact integer cents).

    Scale shape: the write is a map-only scan→project→encode (no
    shuffle; file-per-task, same as the parquet sink), the read-back
    aggregate is one map-side-combinable groupBy on a 6-value key.
    ORC and parquet are both splittable columnar formats with
    min/max stripe/row-group statistics, so the 100 TB data-skipping
    story carries over unchanged; Spark's ORC reader is vectorized
    (``spark.sql.orc.impl=native``). The write lands in a
    fixture-fingerprint-keyed temp dir (mode=overwrite), mirroring
    the artifact-identity discipline of :mod:`..artifacts`.
    """
    # NOT spread(), although the ORC encode runs on only the scan's 3
    # fixture partitions: measured at sf0.1 (r14, interleaved min-of-5)
    # the round-robin widen makes the lane 1.62 s → 1.80 s — the
    # repartition pass + exchange of every projected row costs more
    # than the extra encode parallelism returns. At real scale the scan
    # has many splits and per-task output files land in the 128 MB–1 GB
    # band via the input split size, so no write-side repartition is
    # needed to size them.
    li = load_table(spark, sf_dir, "lineitem").select(*ORC_COLS)
    out = _orc_path(sf_dir)
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.expr("CAST(ROUND(l_quantity * 100, 0) AS BIGINT)")).alias(
            "qty_cents"
        ),
        F.sum(
            F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)")
        ).alias("price_cents"),
    )


SQL_ORC_INTEROP = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
         AS qty_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------
# zorder_layout
# --------------------------------------------------------------------

ZORDER_BITS = 10  # per-dimension resolution: 1024 buckets
ZORDER_CELL_DIV = 1 << 12  # cell = z div 4096 → 256 coarse cells


def _zorder_interleave_expr(x: str, y: str, divop: str) -> str:
    """Bit-interleave text for two ``ZORDER_BITS``-bit nonnegative
    int64 columns: bit i of x lands at position 2i+1, bit i of y at
    2i. Pure div/mod-by-power-of-two arithmetic so the same semantics
    render for Spark (``div``) and DuckDB (``//``) with identical
    integer results."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x}) {divop} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((({y}) {divop} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def zorder_key_py(x: int, y: int) -> int:
    """Pure-Python reference of the interleave (tests pin the SQL
    rendering against this)."""
    z = 0
    for i in range(ZORDER_BITS):
        z += ((x >> i) & 1) << (2 * i + 1)
        z += ((y >> i) & 1) << (2 * i)
    return z


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day),
    with per-cell occupancy stats: range-normalize both dimensions to
    ``ZORDER_BITS``-bit buckets, bit-interleave them into the Morton
    key z, and aggregate the 256 coarse cells (z div 4096) — order
    count, exact price mass, and the z range per cell.

    This is the layout key behind OPTIMIZE ZORDER-style multi-column
    compaction: sorting files by z keeps BOTH dimensions locally
    narrow in every file, so parquet/ORC min/max stats prune scans
    filtered on either column (Morton 1966; "Small Materialized
    Aggregates", Moerkotte VLDB'98 is the stats-pruning side). The
    cell histogram this query returns is exactly what a compactor
    reads to pick file split points. ``tests/test_operators.py``
    additionally pins the data-skipping claim end-to-end: writing
    z-sorted parquet yields per-file custkey ranges a fraction of the
    unsorted layout's.

    Scale shape: one 4-value aggregate for the bounds (broadcast back
    as a 1-row crossJoin — the constant-size-aggregate pattern of
    ``subquery_scalar``), then the keying is map-only int arithmetic and
    the cell rollup is one map-side-combinable groupBy on a 256-value
    key. No window, no sort, no corpus-proportional broadcast.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).alias("d"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    bounds = o.agg(
        F.min("ck").alias("min_ck"),
        F.max("ck").alias("max_ck"),
        F.min("d").alias("min_d"),
        F.max("d").alias("max_d"),
    )
    side = 1 << ZORDER_BITS
    xy = o.crossJoin(F.broadcast(bounds)).select(
        "cents",
        F.expr(
            f"CAST(((ck - min_ck) * {side}) div (max_ck - min_ck + 1)"
            " AS BIGINT)"
        ).alias("x"),
        F.expr(
            f"CAST(((d - min_d) * {side}) div (max_d - min_d + 1)"
            " AS BIGINT)"
        ).alias("y"),
    )
    z = xy.select(
        "cents", F.expr(_zorder_interleave_expr("x", "y", "div")).alias("z")
    )
    return (
        z.groupBy(F.expr(f"z div {ZORDER_CELL_DIV}").alias("cell"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("price_cents"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"),
        )
    )


SQL_ZORDER_LAYOUT = f"""
WITH o AS (
  SELECT o_custkey AS ck,
         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
bounds AS (
  SELECT MIN(ck) AS min_ck, MAX(ck) AS max_ck,
         MIN(d) AS min_d, MAX(d) AS max_d
  FROM o
),
xy AS (
  SELECT cents,
         CAST(((ck - min_ck) * {1 << ZORDER_BITS})
              // (max_ck - min_ck + 1) AS BIGINT) AS x,
         CAST(((d - min_d) * {1 << ZORDER_BITS})
              // (max_d - min_d + 1) AS BIGINT) AS y
  FROM o CROSS JOIN bounds
),
zt AS (
  SELECT cents, {_zorder_interleave_expr("x", "y", "//")} AS z FROM xy
)
SELECT z // {ZORDER_CELL_DIV} AS cell,
       COUNT(*) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS price_cents,
       MIN(z) AS min_z,
       MAX(z) AS max_z
FROM zt
GROUP BY 1
"""


# --------------------------------------------------------------------
# jsonl_interop
# --------------------------------------------------------------------

# Plain exchange types only: ints and a short string. Monetary values
# quantize to exact cents BEFORE serialization so the text roundtrip
# carries integers, and the date flattens to int epoch-days — JSON
# interchange discipline: never round-trip a float or a timestamp
# through text when an exact integer encoding exists.
JSONL_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
    " cents BIGINT, d INT"
)


def _jsonl_path(sf_dir: str) -> str:
    fp = fixture_fingerprint(sf_dir, "orders")
    name = f"spark_graft_jsonl_{fp}"
    _sweep_stale_siblings("spark_graft_jsonl_", name)
    return os.path.join(tempfile.gettempdir(), name)


def q_jsonl_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited-JSON interop: project orders to exchange-safe
    types (exact cents, int epoch-days), write JSONL, read it back
    with an EXPLICIT schema, and fold every surviving value into an
    exact aggregate the oracle recomputes straight off parquet — the
    text-format twin of ``orc_interop``'s binary-format roundtrip.

    The read-back pins the schema rather than inferring it: schema
    inference is a second full pass over the data at scale AND lets a
    single malformed line silently widen a column to string. Corrupt-
    line tolerance (PERMISSIVE + ``_corrupt_record``) is pinned in
    pytest with planted garbage lines; this graded lane checks the
    clean-path exactness.

    Scale shape: write and read are both map-only file-per-task
    passes (JSONL is splittable by lines); the aggregate is one
    map-side-combinable groupBy on the 3-value status key.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).alias("d"),
    )
    out = _jsonl_path(sf_dir)
    o.write.mode("overwrite").json(out)
    back = spark.read.schema(JSONL_SCHEMA).json(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.sum("cents").alias("price_cents"),
        F.min("d").alias("min_day"),
        F.max("d").alias("max_day"),
    )


SQL_JSONL_INTEROP = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_custs,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS price_cents,
       MIN(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS min_day,
       MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS max_day
FROM orders
GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------
# join_asof_nearest
# --------------------------------------------------------------------


def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof
    direction='nearest'``): for each purchase event, the matching
    customer's order CLOSEST in time — before or after — with the gap
    and its sign. The backward-only ``join_asof`` answers "state as
    of"; nearest answers record linkage ("which order does this event
    belong to"), where an order booked moments AFTER the click is the
    right match and backward-only silently picks a stale one.

    Semantics: rank candidates per event by (|Δt|, earlier first on
    ties, then o_orderkey) and keep rank 1 — a total order, so the
    pick is deterministic in both engines. Δt is whole seconds on
    second-truncated event time (the streaming modules' timestamp
    discipline).

    Scale shape: same as ``join_asof`` — the equi key (customer)
    bounds fan-out to orders-per-customer before the per-event
    window; both sides are event/order-proportional so the join is
    shuffle_hash-pinned, never broadcast. Unbounded-fan-out keys
    would bucket both sides by coarse time range first (the
    documented substitution).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .withColumn("ts", F.date_trunc("second", F.col("ts")))
    )
    o = load_table(spark, sf_dir, "orders")
    j = ev.join(
        o.hint("shuffle_hash"),
        F.col("user_id") == F.col("o_custkey"),
        "inner",
    ).withColumn(
        "gap_sec",
        F.unix_timestamp("o_orderdate") - F.unix_timestamp("ts"),
    )
    w = Window.partitionBy("event_id").orderBy(
        F.abs(F.col("gap_sec")),
        F.col("o_orderdate"),
        F.col("o_orderkey"),
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("o_orderkey").alias("nearest_orderkey"),
            F.col("o_orderdate").alias("nearest_orderdate"),
            "gap_sec",
        )
    )


SQL_JOIN_ASOF_NEAREST = """
SELECT event_id, user_id, nearest_orderkey, nearest_orderdate, gap_sec
FROM (
  SELECT e.event_id, e.user_id,
         o.o_orderkey AS nearest_orderkey,
         CAST(o.o_orderdate AS TIMESTAMP) AS nearest_orderdate,
         CAST(epoch(o.o_orderdate)
              - epoch(date_trunc('second', e.ts)) AS BIGINT) AS gap_sec,
         ROW_NUMBER() OVER (
           PARTITION BY e.event_id
           ORDER BY ABS(epoch(o.o_orderdate)
                        - epoch(date_trunc('second', e.ts))),
                    o.o_orderdate, o.o_orderkey) AS rn
  FROM events e
  JOIN orders o ON e.user_id = o.o_custkey
  WHERE e.event_type = 'purchase'
) WHERE rn = 1
"""


# --------------------------------------------------------------------
# skew_report
# --------------------------------------------------------------------

SKEW_TOPK = 10

_SKEW_MAX_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * max_rows) / n_rows, 0)"
    " AS BIGINT)"
)
_SKEW_TOPK_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * topk_rows) / n_rows, 0)"
    " AS BIGINT)"
)


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the report a 100 TB operator reads
    BEFORE choosing between plain shuffle, salting
    (``join_skew_salted``), and AQE skew splitting: for each candidate
    join key, the key cardinality, row count, average rows/key
    (micro), the heaviest key's share, and the top-``SKEW_TOPK`` keys'
    combined share. A max share near avg ⇒ uniform (hash join is
    fine); top-10 share ≫ 10·avg ⇒ the salting/AQE playbook. Keys
    analyzed: orders per customer, lineitem per part, lineitem per
    order, events per user — the four shuffles the engine's own join
    lanes actually pay.

    Exactness: per-key counts are int64 from one combinable groupBy
    each; max/sum aggregates are exact; the top-k sum is a bounded
    TakeOrdered head (counts desc, key asc — a total order); the
    three shares are pinned micro expressions.

    Scale shape: per analyzed key, one map-side-combinable count
    aggregate over the scan, then ONE-ROW reductions (max/sum/count)
    and a k-row TakeOrdered head — nothing after the first groupBy is
    key-cardinality-proportional except the k constant. The report
    itself is 4 rows.
    """
    specs = [
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
        ("lineitem", "l_orderkey"),
        ("events", "user_id"),
    ]
    parts = []
    for table, key in specs:
        t = load_table(spark, sf_dir, table)
        counts = t.groupBy(F.col(key).alias("k")).agg(
            F.count("*").alias("c")
        )
        agg = counts.agg(
            F.count("*").alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_rows"),
        )
        topk = (
            counts.orderBy(F.desc("c"), F.col("k"))
            .limit(SKEW_TOPK)
            .agg(F.sum("c").alias("topk_rows"))
        )
        parts.append(
            agg.crossJoin(F.broadcast(topk)).select(
                F.lit(table).alias("table_name"),
                F.lit(key).alias("key_col"),
                "n_keys",
                "n_rows",
                "max_rows",
                "topk_rows",
                F.expr(_SKEW_MAX_EXPR).alias("max_share_micro"),
                F.expr(_SKEW_TOPK_EXPR).alias("topk_share_micro"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _sql_skew_report() -> str:
    blocks = []
    for table, key in (
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
        ("lineitem", "l_orderkey"),
        ("events", "user_id"),
    ):
        blocks.append(f"""
SELECT '{table}' AS table_name, '{key}' AS key_col,
       n_keys, n_rows, max_rows, topk_rows,
       {_SKEW_MAX_EXPR} AS max_share_micro,
       {_SKEW_TOPK_EXPR} AS topk_share_micro
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_rows
  FROM (SELECT {key} AS k, COUNT(*) AS c FROM {table} GROUP BY {key})
) CROSS JOIN (
  SELECT CAST(SUM(c) AS BIGINT) AS topk_rows FROM (
    SELECT c FROM (SELECT {key} AS k, COUNT(*) AS c FROM {table}
                   GROUP BY {key})
    ORDER BY c DESC, k LIMIT {SKEW_TOPK}
  )
)""")
    return " UNION ALL ".join(blocks)


# --------------------------------------------------------------------
# skew_autosalt
# --------------------------------------------------------------------

SALT_TARGET_ROWS = 32  # rows-per-salt-bucket target the decision aims at
SALT_TOPK = 10  # heavy keys the report salts (bounded output)


def _salt_expr(eid: str, buckets: str) -> str:
    """The salt spreader as ONE expression string rendered into both
    engines (the ``_BM25_MICRO_EXPR`` rule, applied to modulo):
    ``((COALESCE(x,0) % b) + b) % b`` is sign-safe pmod in Spark AND
    DuckDB (both engines' bare ``%`` follows the dividend sign, so the
    add-then-re-mod normalizes negatives identically), and the
    COALESCE pins the NULL policy — Spark's ``pmod(NULL, b)`` yields a
    NULL salt that ``COUNT(*)`` over partials counts while DuckDB's
    ``COUNT(DISTINCT …)`` silently drops NULLs (ADVICE r9). Fixture
    event_ids are non-null and non-negative, so this changes no graded
    value; it removes the cross-engine divergence for inputs that
    aren't.
    """
    return f"((COALESCE({eid}, 0) % {buckets}) + {buckets}) % {buckets}"


def q_skew_autosalt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic salting, decided AND executed: take ``skew_report``'s
    heavy-hitter diagnosis on ``events.user_id``, derive each heavy
    key's salt fan-out ``salt_buckets = ceil(n_rows /
    SALT_TARGET_ROWS)``, then run the two-phase salted aggregation the
    decision prescribes — phase 1 groups by ``(user_id, salt)`` with
    ``salt`` from :func:`_salt_expr` (a deterministic, sign-safe,
    NULL-pinned spreader, so the oracle can replay it), phase 2
    re-aggregates the partials per key. Output: the ``SALT_TOPK`` heaviest keys with their row
    count, chosen fan-out, the number of salt partials phase 1
    actually produced, and the exact cents total — bitwise equal to a
    direct aggregation because int64 addition is associative, which is
    precisely why salting is safe for algebraic aggregates.

    Scale shape: the decision table is ``SALT_TOPK`` rows (a
    TakeOrdered head off one combinable count aggregate) and
    broadcasts; phase 1's shuffle key carries the salt, so a key with
    ``n`` rows lands as ``ceil(n/target)`` tasks instead of one
    straggler — the fix ``skew_report`` recommends, applied. Phase
    2 shuffles only the partials (≤ Σ salt_buckets rows). In
    production the same decision table feeds joins
    (``join_skew_salted``); AQE's runtime skew split is the
    no-decision alternative — this lane is the PLANNED variant for
    pipelines that pin their physical shape.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    decision = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_rows"))
        .orderBy(F.desc("n_rows"), "user_id")
        .limit(SALT_TOPK)
        .withColumn(
            "salt_buckets",
            F.expr(
                f"(n_rows + {SALT_TARGET_ROWS - 1}) div {SALT_TARGET_ROWS}"
            ),
        )
    )
    salted = ev.join(F.broadcast(decision), "user_id").withColumn(
        "salt", F.expr(_salt_expr("event_id", "salt_buckets"))
    )
    partials = salted.groupBy(
        "user_id", "n_rows", "salt_buckets", "salt"
    ).agg(F.sum("cents").alias("part_cents"))
    return partials.groupBy("user_id", "n_rows", "salt_buckets").agg(
        F.count("*").alias("n_salt_parts"),
        F.sum("part_cents").alias("sum_cents"),
    )


SQL_SKEW_AUTOSALT = f"""
WITH e AS (
  SELECT event_id, user_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
d AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST((COUNT(*) + {SALT_TARGET_ROWS - 1}) // {SALT_TARGET_ROWS}
              AS BIGINT) AS salt_buckets,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM e GROUP BY user_id
  ORDER BY n_rows DESC, user_id LIMIT {SALT_TOPK}
)
SELECT d.user_id, d.n_rows, d.salt_buckets,
       CAST(COUNT(DISTINCT {_salt_expr("e.event_id", "d.salt_buckets")})
            AS BIGINT) AS n_salt_parts,
       d.sum_cents
FROM d JOIN e USING (user_id)
GROUP BY d.user_id, d.n_rows, d.salt_buckets, d.sum_cents
"""


# --------------------------------------------------------------------
# compaction_plan
# --------------------------------------------------------------------

COMPACT_TARGET = 4096  # target bytes per compaction group
COMPACT_BUCKET = 50  # bytes per carry bucket (sizes are domain-bounded)

# fill share of the target, constant denominator — no zero case
_FILL_EXPR = (
    f"CAST(ROUND((CAST(1000000 AS DOUBLE) * group_bytes) /"
    f" {COMPACT_TARGET}, 0) AS BIGINT)"
)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner — the maintenance job every
    landed table needs once micro-batches pile up: within each
    ``source`` (the table/partition proxy; ``doc_id`` = file,
    ``n_chars`` = bytes), files are packed largest-first by the
    SORTED-FILL policy (descending size, running prefix sum, group =
    ``cum_before div COMPACT_TARGET``) into ~``COMPACT_TARGET``-byte
    rewrite groups; the report lists each group's file count, byte
    total, and fill share of the target in micros. Sorted-fill is the
    deterministic one-pass policy real compactors (Delta OPTIMIZE-
    style) use: big files seed groups, small files top them off, and
    at most the trailing group per source runs under-filled.

    Scale shape — the reason this lane is built like
    ``quantile_select``: the policy is a per-source prefix sum, and a
    naive formulation is one unpartitioned-per-source window (a
    source's whole manifest in one task). This runs the two-phase
    decomposition instead: (1) one combinable per-(source,
    size-bucket) byte total plus a BOUNDED carry (sizes are
    domain-bounded by the writer's own batch cap, so buckets are a
    constant ~dozen per source — broadcast-pinned, the §82 rule);
    (2) the in-bucket prefix is a bucket-local window (bucket-sized
    tasks, never source-sized). Buckets order strictly by size class
    (bytes div B is monotone in bytes), so carry + in-bucket prefix
    equals the global descending prefix sum exactly — the oracle
    computes the naive single-window form, so the decomposition is
    hash-checked, not argued.
    """
    files = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").alias("bytes")
    )
    b = files.withColumn("bkt", F.expr(f"bytes div {COMPACT_BUCKET}"))
    wb = (
        Window.partitionBy("source")
        .orderBy(F.desc("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        b.groupBy("source", "bkt")
        .agg(F.sum("bytes").alias("bb"))
        .select(
            "source",
            "bkt",
            F.coalesce(F.sum("bb").over(wb), F.lit(0)).alias("carry"),
        )
    )
    wi = (
        Window.partitionBy("source", "bkt")
        .orderBy(F.desc("bytes"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        b.join(F.broadcast(carry), ["source", "bkt"])
        .withColumn(
            "cum_before",
            F.col("carry") + F.coalesce(F.sum("bytes").over(wi), F.lit(0)),
        )
        .withColumn(
            "group_id", F.expr(f"cum_before div {COMPACT_TARGET}")
        )
    )
    return (
        cum.groupBy("source", "group_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("bytes").alias("group_bytes"),
        )
        .select(
            "source",
            "group_id",
            "n_files",
            "group_bytes",
            F.expr(_FILL_EXPR).alias("fill_micro"),
        )
    )


SQL_COMPACTION_PLAN = f"""
WITH f AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes FROM documents
),
c AS (
  SELECT source, bytes,
         CAST(COALESCE(SUM(bytes) OVER (
             PARTITION BY source ORDER BY bytes DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM f
),
g AS (
  SELECT source,
         CAST(cum_before // {COMPACT_TARGET} AS BIGINT) AS group_id,
         CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(bytes) AS BIGINT) AS group_bytes
  FROM c GROUP BY source, cum_before // {COMPACT_TARGET}
)
SELECT source, group_id, n_files, group_bytes,
       {_FILL_EXPR} AS fill_micro
FROM g
"""


QUERIES: list[Query] = [
    Query("scan_parquet", q_scan_parquet, SQL_SCAN_PARQUET, ("relational", "source")),
    Query("project_filter", q_project_filter, SQL_PROJECT_FILTER, ("relational",)),
    Query("filter_compound", q_filter_compound, SQL_FILTER_COMPOUND, ("relational",)),
    Query("agg_group", q_agg_group, SQL_AGG_GROUP, ("relational", "agg"), bench=True),
    Query("agg_distinct", q_agg_distinct, SQL_AGG_DISTINCT, ("relational", "agg")),
    Query("agg_rollup_cube", q_agg_rollup_cube, SQL_AGG_ROLLUP_CUBE, ("relational", "agg")),
    Query("join_inner", q_join_inner, SQL_JOIN_INNER, ("relational", "join"), bench=True),
    Query("join_outer", q_join_outer, SQL_JOIN_OUTER, ("relational", "join")),
    Query("join_semi_anti", q_join_semi_anti, SQL_JOIN_SEMI_ANTI, ("relational", "join")),
    Query("join_broadcast", q_join_broadcast, SQL_JOIN_BROADCAST, ("relational", "join")),
    Query("join_range", q_join_range, SQL_JOIN_RANGE, ("relational", "join"), bench=True),
    Query("join_asof", q_join_asof, SQL_JOIN_ASOF, ("relational", "join", "custom")),
    Query("sort_limit_topk", q_sort_limit_topk, SQL_SORT_LIMIT_TOPK, ("relational",)),
    Query("set_ops", q_set_ops, SQL_SET_OPS, ("relational",)),
    Query("window_rank", q_window_rank, SQL_WINDOW_RANK, ("relational", "window")),
    Query(
        "window_analytic",
        q_window_analytic,
        SQL_WINDOW_ANALYTIC,
        ("relational", "window"),
        bench=True,
    ),
    Query("scalar_funcs", q_scalar_funcs, SQL_SCALAR_FUNCS, ("relational",)),
    Query(
        "subquery_scalar",
        q_subquery_scalar,
        SQL_SUBQUERY_SCALAR,
        ("relational", "subquery"),
    ),
    Query(
        "agg_percentile",
        q_agg_percentile,
        SQL_AGG_PERCENTILE,
        ("relational", "agg"),
    ),
    Query(
        "agg_approx_quantile",
        q_agg_approx_quantile,
        SQL_AGG_APPROX_QUANTILE,
        ("relational", "agg", "approx"),
    ),
    Query("pivot", q_pivot, SQL_PIVOT, ("relational", "agg")),
    Query(
        "join_skew_salted",
        q_join_skew_salted,
        SQL_JOIN_SKEW_SALTED,
        ("relational", "join"),
    ),
    Query(
        "sql_frontend",
        q_sql_frontend,
        SQL_SQL_FRONTEND,
        ("relational", "sql", "tpch"),
        bench=True,
    ),
    Query(
        "agg_argminmax",
        q_agg_argminmax,
        SQL_AGG_ARGMINMAX,
        ("relational", "agg"),
    ),
    Query(
        "udaf_grouped",
        q_udaf_grouped,
        SQL_UDAF_GROUPED,
        ("relational", "udf"),
    ),
    Query(
        "datetime_funcs",
        q_datetime_funcs,
        SQL_DATETIME_FUNCS,
        ("relational",),
    ),
    Query(
        "higher_order_funcs",
        q_higher_order_funcs,
        SQL_HIGHER_ORDER_FUNCS,
        ("relational", "array"),
    ),
    Query(
        "regexp_funcs",
        q_regexp_funcs,
        SQL_REGEXP_FUNCS,
        ("relational", "text"),
    ),
    Query(
        "join_null_safe",
        q_join_null_safe,
        SQL_JOIN_NULL_SAFE,
        ("relational", "join"),
    ),
    Query("scd2_history", q_scd2_history, SQL_SCD2_HISTORY, ("relational", "window")),
    Query(
        "join_bloom_prefilter",
        q_join_bloom_prefilter,
        SQL_JOIN_BLOOM_PREFILTER,
        ("relational", "join", "approx"),
    ),
    Query(
        "cdc_apply",
        q_cdc_apply,
        SQL_CDC_APPLY,
        ("relational", "window", "pipeline"),
    ),
    Query("udtf_lateral", q_udtf_lateral, SQL_UDTF_LATERAL, ("relational", "udf")),
    Query(
        "agg_hll_sketch",
        q_agg_hll_sketch,
        SQL_AGG_HLL_SKETCH,
        ("relational", "agg", "approx"),
    ),
    Query("json_variant", q_json_variant, SQL_JSON_VARIANT, ("relational", "json")),
    Query(
        "window_distribution",
        q_window_distribution,
        SQL_WINDOW_DISTRIBUTION,
        ("relational", "window"),
    ),
    Query(
        "unpivot_stack",
        q_unpivot_stack,
        SQL_UNPIVOT_STACK,
        ("relational", "reshape"),
    ),
    Query(
        "agg_skew_salted",
        q_agg_skew_salted,
        SQL_AGG_SKEW_SALTED,
        ("relational", "agg", "skew"),
    ),
    Query(
        "funnel_conversion",
        q_funnel_conversion,
        SQL_FUNNEL_CONVERSION,
        ("relational", "analytics"),
    ),
    Query(
        "retention_cohort",
        q_retention_cohort,
        SQL_RETENTION_COHORT,
        ("relational", "analytics"),
    ),
    Query(
        "recursive_cte",
        q_recursive_hierarchy,
        SQL_RECURSIVE_HIERARCHY,
        ("relational", "sql", "iterative"),
    ),
    Query(
        "skyline_frontier",
        q_skyline_frontier,
        SQL_SKYLINE_FRONTIER,
        ("relational", "analytics", "window"),
    ),
    Query(
        "basket_pairs",
        q_basket_pairs,
        SQL_BASKET_PAIRS,
        ("relational", "analytics", "association"),
    ),
    Query(
        "markov_transitions",
        q_markov_transitions,
        SQL_MARKOV_TRANSITIONS,
        ("relational", "analytics", "window"),
        bench=True,  # the bounded-key sequence-statistic representative
    ),
    Query(
        "session_paths",
        q_session_paths,
        SQL_SESSION_PATHS,
        ("relational", "analytics", "window"),
    ),
    Query(
        "orc_interop",
        q_orc_interop,
        SQL_ORC_INTEROP,
        ("relational", "etl", "format", "sink"),
        bench=True,  # the second real-sink I/O lane next to parquet ETL
    ),
    Query(
        "zorder_layout",
        q_zorder_layout,
        SQL_ZORDER_LAYOUT,
        ("relational", "layout", "data-skipping"),
    ),
    Query(
        "jsonl_interop",
        q_jsonl_interop,
        SQL_JSONL_INTEROP,
        ("relational", "etl", "format", "sink"),
    ),
    Query(
        "join_asof_nearest",
        q_join_asof_nearest,
        SQL_JOIN_ASOF_NEAREST,
        ("relational", "join", "timeseries"),
    ),
    Query(
        "skew_report",
        q_skew_report,
        _sql_skew_report(),
        ("relational", "profiling", "skew", "monitoring"),
    ),
    Query(
        "skew_autosalt",
        q_skew_autosalt,
        SQL_SKEW_AUTOSALT,
        ("relational", "skew", "agg", "pipeline"),
    ),
    Query(
        "compaction_plan",
        q_compaction_plan,
        SQL_COMPACTION_PLAN,
        ("relational", "layout", "pipeline", "monitoring"),
    ),
]
