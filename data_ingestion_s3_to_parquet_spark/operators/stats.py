"""Experimentation and statistical tests: A/B metrics, sample-ratio
checks, permutation tests, Poisson-bootstrap intervals, CUPED and
difference-in-differences, power and sample size, FDR control,
contingency tests, correlation and trend fits, ANOVA, rank tests,
survival curves, winsorized means, and exact/weighted quantiles.

Exactness rules as in every operator module: integer sufficient
statistics until one pinned micro-quantized division, the same
expression text on both engines, and seedless md5-derived draws so
resampling is layout-independent and bitwise-reproducible.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import (
    ICEPT_SQL,
    MICRO_MEAN_EXPR,
    SXX_SQL,
    SXY_SQL,
    SYY_SQL,
    corr_micro_from_stats,
    corr_micro_sql,
    exact_product_sum,
    fp_ratio,
    suffstat_agg,
    suffstat_terms,
)
from ..plans.spec import Query
from ..sources.catalog import load_table
from .trainprep import (
    BOOT_VALUES,
    _BOOT_MEAN_EXPR,
    _pois_w_expr,
    boot_ci,
    boot_replicates,
    sql_boot_ci,
)
from .twophase import bucket_carry_totals


# ---------------------------------------------------------------------------
# corr_pearson


def q_corr_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation (quantity vs price per return
    flag) from EXACT integer sufficient statistics — the analytics
    staple Spark's ``corr()`` computes with an order-dependent float
    accumulator (Welford merges whose rounding depends on partition
    layout, so its raw output can't hash-match any oracle).

    The engine shape every distributed corr/covar should use: one
    map-side-combinable groupBy ships six exact statistics (n, Σx, Σy
    in int64; Σxy, Σx², Σy² summed as DECIMAL(38,0) — cents² × rows
    exceeds int64 headroom at large SFs, and decimal/int128 sums are
    exact and associative on both engines). The statistic itself is
    then a PURE function of exact integers — the ``chi2_contingency``
    rule: cast each of the three combinations (nΣxy−ΣxΣy,
    nΣx²−(Σx)², nΣy²−(Σy)²) to double once (correctly rounded IEEE),
    run a pinned op sequence (multiply, sqrt, divide), micro-quantize.
    Prices become exact integer cents via DECIMAL(18,2) — a 2-dp
    price double is never an exact 3-dp midpoint, so both engines
    round it to the same cents.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    # shared scaffolding (functions/numeric.py, extracted in round 10
    # when corr_spearman/trend_linfit became the 2nd and 3rd copies):
    # decimal-first product sums + the pinned corr op-sequence with
    # the ADVICE r7 zero-variance NULL guard

    stats = base.groupBy("l_returnflag").agg(
        *suffstat_agg(F.col("x"), F.col("y"))
    )
    micro = corr_micro_from_stats()
    return stats.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        F.col("sxy").cast("long").alias("sxy"),
        (micro.cast("double") / 1e6).alias("corr_qty_price"),
    )


SQL_CORR_PEARSON = f"""
WITH base AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
stats AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(x * y) AS sxy,
         SUM(x * x) AS sxx,
         SUM(y * y) AS syy
  FROM base GROUP BY l_returnflag
)
SELECT l_returnflag, n, sx, sy,
       CAST(sxy AS BIGINT) AS sxy,
       CAST({corr_micro_sql()} AS DOUBLE) / 1000000.0 AS corr_qty_price
FROM stats
"""


# ---------------------------------------------------------------------------
# ab_test_metrics

AB_SPLIT_BOUND = "8000"  # md5 hex prefix < '8000' -> arm A (50/50)


def q_ab_test_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: deterministically assign every user to arm
    A or B (md5 hash gate — the same layout-invariant construction as
    sample_split, so assignment survives reruns and appends), then
    report per-arm event counts, mean value, and the relative effect
    (B vs A) — the one-row summary an A/B dashboard renders.

    All arithmetic is the fixed-point lane end to end: cent-quantized
    integer sums, half-up integer division for the 6-dp means
    (micro-units), and the relative effect as a fixed-point ratio OF
    those integer means — no decimal→double cast anywhere (SCALE.md
    §34 mechanism note). One conditional aggregation over one scan.
    """
    e = load_table(spark, sf_dir, "events")
    arm_a = (
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    cents = (F.col("value").cast("decimal(18,8)") * 100).cast("long")
    agg = e.select(arm_a.alias("a"), cents.alias("c")).agg(
        F.sum(F.col("a").cast("long")).alias("n_a"),
        F.sum((~F.col("a")).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("a"), F.col("c")).otherwise(0)).alias("s_a"),
        F.sum(F.when(~F.col("a"), F.col("c")).otherwise(0)).alias("s_b"),
    )

    def units(s_cents, n):
        # mean in 1e-6 units: round(cents * 1e4 / n) half-up (sums
        # are non-negative here; values in the fixture are >= 0)
        num = 2 * s_cents * 10_000 + n
        den = 2 * n
        return F.round((num - F.pmod(num, den)) / den, 0).cast("long")

    agg = agg.select(
        "n_a",
        "n_b",
        units(F.col("s_a"), F.col("n_a")).alias("u_a"),
        units(F.col("s_b"), F.col("n_b")).alias("u_b"),
    )

    return agg.select(
        "n_a",
        "n_b",
        (F.col("u_a").cast("double") / 1e6).alias("mean_a"),
        (F.col("u_b").cast("double") / 1e6).alias("mean_b"),
        fp_ratio((F.col("u_b") - F.col("u_a")) * 1_000_000, F.col("u_a"), 6).alias(
            "rel_effect"
        ),
    )


SQL_AB_TEST_METRICS = f"""
WITH t AS (
  SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 4) < '{AB_SPLIT_BOUND}' AS a,
         CAST(CAST(value AS DECIMAL(18,8)) * 100 AS BIGINT) AS c
  FROM events
),
agg AS (
  SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN c ELSE 0 END) AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE c END) AS s_b
  FROM t
),
u AS (
  SELECT n_a, n_b,
         (2 * s_a * 10000 + n_a) // (2 * n_a) AS u_a,
         (2 * s_b * 10000 + n_b) // (2 * n_b) AS u_b
  FROM agg
)
SELECT n_a, n_b,
       CAST(u_a AS DOUBLE) / 1000000.0 AS mean_a,
       CAST(u_b AS DOUBLE) / 1000000.0 AS mean_b,
       CAST((CASE WHEN u_b - u_a < 0 THEN -1 ELSE 1 END)
            * ((2 * abs((u_b - u_a) * 1000000) + u_a) // (2 * u_a))
            AS DOUBLE) / 1000000.0 AS rel_effect
FROM u
"""


# --------------------------------------------------------------------
# perm_test_diff
# --------------------------------------------------------------------

PERM_B = 99  # permutations; add-one p-value granularity 1/100

# Add-one permutation p-value (Phipson & Smyth 2010) in micro units:
# p = (n_ge + 1) / (n_perms + 1), one pinned half-up integer division.
_PT_P_EXPR = (
    "CASE WHEN d_obs_micro IS NULL OR n_perms = 0 THEN"
    " CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * 1000000 * (n_ge + 1) + (n_perms + 1))"
    " {div} (2 * (n_perms + 1)) AS BIGINT) END"
)
# The permutation ids 1..PERM_B as a VALUES row list, for both engines.
PERM_VALUES = ", ".join(f"({p})" for p in range(1, PERM_B + 1))


def _perms(spark: SparkSession, col: str) -> DataFrame:
    """The permutation ids as a PERM_B-row frame with one column ``col``."""
    return spark.sql(f"SELECT * FROM VALUES {PERM_VALUES} AS t({col})")


def _arm_sums(df, arm: Column) -> DataFrame:
    """Unit counts ``n_a``/``n_b`` and exact cent sums ``s_a``/``s_b`` of
    the two arms (``arm`` true is A), over a frame or grouped data."""
    dec = "decimal(38,0)"
    return df.agg(
        F.sum(arm.cast("long")).alias("n_a"),
        F.sum((~arm).cast("long")).alias("n_b"),
        F.sum(F.when(arm, F.col("cents")).otherwise(0).cast(dec))
        .cast(dec)
        .alias("s_a"),
        F.sum(F.when(~arm, F.col("cents")).otherwise(0).cast(dec))
        .cast(dec)
        .alias("s_b"),
    )


def _with_arm_diff(
    df: DataFrame, out: str, expr: str = MICRO_MEAN_EXPR, s: str = "s"
) -> DataFrame:
    """``out`` = arm B's statistic minus arm A's, each one pinned
    division of ``expr`` over the arm's count ``n_<arm>`` and sum
    ``<s>_<arm>``."""
    dec = "decimal(38,0)"
    a, b = (
        expr.format(n=f"n_{x}", **{s: f"{s}_{x}"}, big=dec, div="div")
        for x in "ab"
    )
    return df.withColumn(out, F.expr(f"({b}) - ({a})"))


def q_perm_test_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic permutation test for the difference of arm mean
    order prices — the SIGNIFICANCE leg next to ``ab_test_metrics``'s
    effect-size readout (VERDICT r12 #4): the effect lane says how
    big the A-vs-B gap is; this lane says whether a gap that big
    could plausibly arise from the assignment randomness alone.

    Customers are the randomization unit (the same md5 hex gate as
    the observed ``ab_test_metrics`` assignment), so the relabeling
    is CLUSTER-level: permutation p reassigns each customer — not
    each order — via md5('p:' || custkey || ':' || p), holding all
    of a customer's orders together exactly as a real experiment
    would. Event-level relabeling would fake n-fold more
    randomization units and anti-conservative p-values; the unit
    discipline is the statistical content of this lane. Labels are
    md5-derived like the bootstrap lanes' weights: layout-free,
    rerun-stable, engine-identical, no rand() anywhere.

    Statistic: d = mean_B − mean_A in micro-dollars, each mean ONE
    pinned half-up integer division on exact decimal/HUGEINT cent
    sums. p-value: the add-one estimator (n_ge + 1)/(B + 1) over
    the B = 99 relabelings (Phipson & Smyth 2010 — never report a
    permutation p of zero), one more pinned micro division. A
    relabeling that empties an arm (probability ~2^−|customers|)
    yields a NULL d and is excluded; ``n_perms`` reports the
    effective count.

    Scale shape: one broadcast ×B explode of the fact scan, ONE
    map-side-combinable groupBy(p) — shuffle volume is B rows of
    four counters regardless of input size — then a broadcast of the
    1-row observed statistic onto the B-row frame and a final tiny
    aggregate. Zero data-sized joins, zero sorts, zero windows.
    """
    perms = _perms(spark, "p")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )

    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    obs = _with_arm_diff(_arm_sums(o, obs_arm), "d_obs_micro").select(
        "n_a", "n_b", "d_obs_micro"
    )
    rows = o.crossJoin(F.broadcast(perms))
    perm_arm = F.expr(
        "substring(md5(concat('p:', CAST(unit AS STRING), ':',"
        f" CAST(p AS STRING))), 1, 4) < '{AB_SPLIT_BOUND}'"
    )
    g = _with_arm_diff(_arm_sums(rows.groupBy("p"), perm_arm), "d_micro").select(
        "p", "d_micro"
    )
    joined = g.crossJoin(F.broadcast(obs))
    stats = joined.groupBy("n_a", "n_b", "d_obs_micro").agg(
        F.count("d_micro").alias("n_perms"),
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.col("d_micro"))
                    >= F.abs(F.col("d_obs_micro")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_ge"),
    )
    return stats.select(
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_perms",
        "n_ge",
        F.expr(_PT_P_EXPR.format(div="div")).alias("p_micro"),
    )


def _sql_perm_test_diff() -> str:
    u_a = MICRO_MEAN_EXPR.format(n="n_a", s="s_a", big="HUGEINT", div="//")
    u_b = MICRO_MEAN_EXPR.format(n="n_b", s="s_b", big="HUGEINT", div="//")
    return f"""
WITH perms AS (SELECT * FROM (VALUES {PERM_VALUES}) AS t(p)),
o AS (
  SELECT o_custkey AS unit,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
obs0 AS (
  SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN cents ELSE 0 END) AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE cents END) AS s_b
  FROM (SELECT substr(md5(CAST(unit AS VARCHAR)), 1, 4)
                 < '{AB_SPLIT_BOUND}' AS a,
               cents
        FROM o)
),
obs AS (
  SELECT n_a, n_b, ({u_b}) - ({u_a}) AS d_obs_micro FROM obs0
),
g0 AS (
  SELECT p,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN cents ELSE 0 END) AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE cents END) AS s_b
  FROM (SELECT p,
               substr(md5('p:' || CAST(unit AS VARCHAR) || ':'
                          || CAST(p AS VARCHAR)), 1, 4)
                 < '{AB_SPLIT_BOUND}' AS a,
               cents
        FROM o CROSS JOIN perms)
  GROUP BY p
),
g AS (
  SELECT p, ({u_b}) - ({u_a}) AS d_micro FROM g0
),
stats AS (
  SELECT obs.n_a, obs.n_b, obs.d_obs_micro,
         CAST(COUNT(d_micro) AS BIGINT) AS n_perms,
         CAST(COALESCE(SUM(CASE WHEN abs(d_micro)
                                     >= abs(d_obs_micro)
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_ge
  FROM g CROSS JOIN obs
  GROUP BY obs.n_a, obs.n_b, obs.d_obs_micro
)
SELECT n_a, n_b, d_obs_micro, n_perms, n_ge,
       {_PT_P_EXPR.format(div="//")} AS p_micro
FROM stats
"""


SQL_PERM_TEST_DIFF = _sql_perm_test_diff()


# --------------------------------------------------------------------
# bootstrap_ci_diff
# --------------------------------------------------------------------


def q_bootstrap_ci_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-bootstrap CI for the difference of arm mean order
    prices — the effect-size uncertainty next to ``perm_test_diff``'s
    significance verdict: the permutation lane says whether the A-vs-B
    gap could be assignment noise; this lane says how precisely the
    gap itself is estimated. Together with ``ab_test_metrics`` they
    complete the experiment readout (effect, p-value, CI).

    The unit discipline carries over: customers — the randomization
    unit — are resampled as WHOLE clusters. Replicate b gives every
    customer ONE Poisson(1) weight w = ladder(md5('d:'||custkey||':'
    ||b)) that applies to all of the customer's orders (the cluster
    bootstrap; resampling orders independently would understate the
    variance of a customer-randomized experiment). Because the weight
    is a pure function of (custkey, b), it is computed per ROW with
    no customer table and no join.

    Per replicate: d_b = Σ_B w·cents/Σ_B w − Σ_A w·cents/Σ_A w, each
    mean ONE pinned half-up integer division on decimal/HUGEINT sums;
    a replicate that empties an arm is NULL and excluded
    (``n_replicates`` reports the effective count); bounds are type-1
    rank-selected over the ≤ B replicate window — picked, never
    interpolated. ``d_obs_micro`` (the plain difference) is reported
    alongside so the CI reads against its point estimate.

    Scale shape: one broadcast ×B explode, ONE map-side-combinable
    groupBy(b) of four counters (shuffle volume B·4 regardless of
    input), the bounded ≤ B-row rank window (single-partition by
    design — the experiment is one global statistic), and the 1-row
    observed broadcast. Zero data-sized joins, zero sorts.
    """

    reps = boot_replicates(spark)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    dec = "decimal(38,0)"
    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    obs = _with_arm_diff(_arm_sums(o, obs_arm), "d_obs_micro").select(
        "n_a", "n_b", "d_obs_micro"
    )
    rows = (
        o.crossJoin(F.broadcast(reps))
        .withColumn("a", obs_arm)
        .withColumn(
            "u",
            F.expr(
                "substring(md5(concat('d:', CAST(unit AS STRING), ':',"
                " CAST(b AS STRING))), 1, 8)"
            ),
        )
        .withColumn("w", F.expr(_pois_w_expr("u")).cast("long"))
    )
    g = rows.groupBy("b").agg(
        F.sum(F.when(F.col("a"), F.col("w")).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("a"), F.col("w")).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(F.col("a"), F.col("w").cast(dec) * F.col("cents"))
            .otherwise(0)
            .cast(dec)
        )
        .cast(dec)
        .alias("s_a"),
        F.sum(
            F.when(~F.col("a"), F.col("w").cast(dec) * F.col("cents"))
            .otherwise(0)
            .cast(dec)
        )
        .cast(dec)
        .alias("s_b"),
    )
    g = _with_arm_diff(g, "d_micro").where(F.col("d_micro").isNotNull())
    ci = boot_ci(g, None, "d_micro")
    return ci.crossJoin(F.broadcast(obs)).select(
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_replicates",
        "ci_lo_micro",
        "ci_hi_micro",
    )


def _sql_bootstrap_ci_diff() -> str:
    u_a = MICRO_MEAN_EXPR.format(n="n_a", s="s_a", big="HUGEINT", div="//")
    u_b = MICRO_MEAN_EXPR.format(n="n_b", s="s_b", big="HUGEINT", div="//")
    return f"""
WITH reps AS (SELECT * FROM (VALUES {BOOT_VALUES}) AS t(b)),
o AS (
  SELECT o_custkey AS unit,
         substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS a,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
obs0 AS (
  SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN cents ELSE 0 END) AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE cents END) AS s_b
  FROM o
),
obs AS (
  SELECT n_a, n_b, ({u_b}) - ({u_a}) AS d_obs_micro FROM obs0
),
rows_w AS (
  SELECT b, a, cents,
         {_pois_w_expr(
             "substr(md5('d:' || CAST(unit AS VARCHAR) || ':' ||"
             " CAST(b AS VARCHAR)), 1, 8)"
         )} AS w
  FROM o CROSS JOIN reps
),
g0 AS (
  SELECT b,
         CAST(SUM(CASE WHEN a THEN w ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE w END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN CAST(w AS HUGEINT) * cents ELSE 0 END)
           AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE CAST(w AS HUGEINT) * cents END)
           AS s_b
  FROM rows_w GROUP BY b
),
g AS (
  SELECT b, ({u_b}) - ({u_a}) AS d_micro FROM g0
),
r AS (
  SELECT b, d_micro,
         row_number() OVER (ORDER BY d_micro, b) AS rn,
         COUNT(*) OVER () AS nrep
  FROM g WHERE d_micro IS NOT NULL
),
ci AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
         {sql_boot_ci("d_micro")}
  FROM r
)
SELECT n_a, n_b, d_obs_micro, n_replicates, ci_lo_micro, ci_hi_micro
FROM ci CROSS JOIN obs
"""


SQL_BOOTSTRAP_CI_DIFF = _sql_bootstrap_ci_diff()


# --------------------------------------------------------------------
# perm_test_ratio
# --------------------------------------------------------------------

# Arm urgent-share in micro units: the same midpoint-free half-up
# integer division, NULL on an empty arm.
_PT_SHARE_EXPR = (
    "CASE WHEN {n} = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST({u} AS {big}) + {n})"
    " {div} (2 * CAST({n} AS {big})) AS BIGINT) END"
)


def q_perm_test_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic permutation test for the difference of arm
    URGENT-ORDER SHARES — the significance leg for the ratio metric,
    completing the experiment matrix: the mean column has
    ``perm_test_diff`` (p) + ``bootstrap_ci_diff`` (CI); the ratio
    column had only ``bootstrap_ci_ratio``'s CI until this lane.
    Shares are where the permutation test earns its keep over the
    normal approximation exactly as the bootstrap did: a difference
    of proportions near 0 or 1 has no trustworthy closed-form null.

    Identical machinery to ``perm_test_diff`` (customer-level
    md5 relabelings — the randomization-unit discipline — B = 99,
    add-one p-value), with an INDEPENDENT label stream (the ``pr:``
    salt) and the statistic d = share_B − share_A where each share
    is ONE pinned half-up micro division of exact integer counts.
    The indicator is order urgency (o_orderpriority = '1-URGENT'),
    the same metric ``bootstrap_ci_ratio`` interval-estimates, so
    the two lanes read together as (CI, p) for one quantity.

    Scale shape: perm_test_diff's — one broadcast ×B explode, ONE
    map-side-combinable groupBy(p) of four counters, the 1-row
    observed broadcast, a tiny final reduce. Zero data joins.
    """
    perms = _perms(spark, "p")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("u"),
    )

    def arm_counts(df, arm):
        return df.agg(
            F.sum(arm.cast("long")).alias("n_a"),
            F.sum((~arm).cast("long")).alias("n_b"),
            F.sum(F.when(arm, F.col("u")).otherwise(0)).alias("u_a"),
            F.sum(F.when(~arm, F.col("u")).otherwise(0)).alias("u_b"),
        )

    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    obs = _with_arm_diff(
        arm_counts(o, obs_arm), "d_obs_micro", _PT_SHARE_EXPR, "u"
    ).select(
        "n_a", "n_b", "d_obs_micro"
    )
    rows = o.crossJoin(F.broadcast(perms))
    perm_arm = F.expr(
        "substring(md5(concat('pr:', CAST(unit AS STRING), ':',"
        f" CAST(p AS STRING))), 1, 4) < '{AB_SPLIT_BOUND}'"
    )
    g = _with_arm_diff(
        arm_counts(rows.groupBy("p"), perm_arm), "d_micro", _PT_SHARE_EXPR, "u"
    ).select(
        "p", "d_micro"
    )
    joined = g.crossJoin(F.broadcast(obs))
    stats = joined.groupBy("n_a", "n_b", "d_obs_micro").agg(
        F.count("d_micro").alias("n_perms"),
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.col("d_micro"))
                    >= F.abs(F.col("d_obs_micro")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_ge"),
    )
    return stats.select(
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_perms",
        "n_ge",
        F.expr(_PT_P_EXPR.format(div="div")).alias("p_micro"),
    )


def _sql_perm_test_ratio() -> str:
    s_a = _PT_SHARE_EXPR.format(n="n_a", u="u_a", big="HUGEINT", div="//")
    s_b = _PT_SHARE_EXPR.format(n="n_b", u="u_b", big="HUGEINT", div="//")
    return f"""
WITH perms AS (SELECT * FROM (VALUES {PERM_VALUES}) AS t(p)),
o AS (
  SELECT o_custkey AS unit,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
  FROM orders
),
obs0 AS (
  SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN a THEN u ELSE 0 END) AS BIGINT) AS u_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE u END) AS BIGINT) AS u_b
  FROM (SELECT substr(md5(CAST(unit AS VARCHAR)), 1, 4)
                 < '{AB_SPLIT_BOUND}' AS a,
               u
        FROM o)
),
obs AS (
  SELECT n_a, n_b, ({s_b}) - ({s_a}) AS d_obs_micro FROM obs0
),
g0 AS (
  SELECT p,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN a THEN u ELSE 0 END) AS BIGINT) AS u_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE u END) AS BIGINT) AS u_b
  FROM (SELECT p,
               substr(md5('pr:' || CAST(unit AS VARCHAR) || ':'
                          || CAST(p AS VARCHAR)), 1, 4)
                 < '{AB_SPLIT_BOUND}' AS a,
               u
        FROM o CROSS JOIN perms)
  GROUP BY p
),
g AS (
  SELECT p, ({s_b}) - ({s_a}) AS d_micro FROM g0
),
stats AS (
  SELECT obs.n_a, obs.n_b, obs.d_obs_micro,
         CAST(COUNT(d_micro) AS BIGINT) AS n_perms,
         CAST(COALESCE(SUM(CASE WHEN abs(d_micro)
                                     >= abs(d_obs_micro)
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_ge
  FROM g CROSS JOIN obs
  GROUP BY obs.n_a, obs.n_b, obs.d_obs_micro
)
SELECT n_a, n_b, d_obs_micro, n_perms, n_ge,
       {_PT_P_EXPR.format(div="//")} AS p_micro
FROM stats
"""


SQL_PERM_TEST_RATIO = _sql_perm_test_ratio()


# --------------------------------------------------------------------
# srm_check
# --------------------------------------------------------------------

# chi-square(1 df) critical value at alpha = 0.001, micro-quantized
# (10.828 — the SRM-alert threshold the large A/B platforms publish;
# Fabijan et al. 2019). The verdict is an exact integer
# cross-multiplication, never a float compare.
SRM_CHI2_CRIT_MICRO = 10_828_000

_SRM_CHI2_EXPR = (
    "CASE WHEN n_units = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(1000000 AS {big})"
    " * CAST(n_a - n_b AS {big}) * CAST(n_a - n_b AS {big}) + n_units)"
    " {div} (2 * CAST(n_units AS {big})) AS BIGINT) END"
)
_SRM_ALERT_EXPR = (
    "CAST(1000000 AS {big}) * CAST(n_a - n_b AS {big})"
    f" * CAST(n_a - n_b AS {{big}}) > {SRM_CHI2_CRIT_MICRO}"
    " * CAST(n_units AS {big})"
)


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit — the A/B hygiene check that must
    pass BEFORE ``ab_test_metrics`` / ``perm_test_diff`` /
    ``bootstrap_ci_diff`` are worth reading: if the observed arm
    sizes are inconsistent with the designed 50/50 md5 gate, the
    experiment's data path is losing or duplicating units and every
    downstream readout is invalid (Fabijan, Gupchup et al., KDD 2019
    — the industry-standard pre-analysis gate).

    Customers are the assignment unit, so the check counts UNITS
    (one row per customer), and it runs per NATION plus the global
    row via ROLLUP — segment-level SRM is the classic failure a
    global check hides (one country's consent banner eats arm B;
    globally the loss averages out). chi² with 1 df against the
    designed even split collapses to (n_a − n_b)²/N; the statistic
    is ONE pinned half-up micro division and the α = 0.001 verdict
    an exact integer cross-multiplication against the published
    critical value 10.828 — no float compare, no p-value table.

    Scale shape: one map-side-combinable ROLLUP aggregate over the
    customer scan (output |nations| + 1 rows); the md5 gate is a
    pure per-row function. Zero joins, zero windows, zero
    broadcasts.
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nk"),
        (
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 4)
            < AB_SPLIT_BOUND
        ).alias("a"),
    )
    dec = "decimal(38,0)"
    g = (
        c.rollup("nk")
        .agg(
            F.count("*").alias("n_units"),
            F.sum(F.col("a").cast("long")).alias("n_a"),
            F.sum((~F.col("a")).cast("long")).alias("n_b"),
        )
        .select(
            F.coalesce(F.col("nk"), F.lit(-1)).alias("nationkey"),
            "n_units",
            "n_a",
            "n_b",
        )
    )
    return g.select(
        "nationkey",
        "n_units",
        "n_a",
        "n_b",
        F.expr(_SRM_CHI2_EXPR.format(big=dec, div="div")).alias(
            "chi2_micro"
        ),
        F.expr(_SRM_ALERT_EXPR.format(big=dec)).alias("srm_alert"),
    )


SQL_SRM_CHECK = f"""
WITH c AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS a
  FROM customer
),
g AS (
  SELECT COALESCE(nk, -1) AS nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM c GROUP BY ROLLUP (nk)
)
SELECT nationkey, n_units, n_a, n_b,
       {_SRM_CHI2_EXPR.format(big="HUGEINT", div="//")} AS chi2_micro,
       {_SRM_ALERT_EXPR.format(big="HUGEINT")} AS srm_alert
FROM g
"""


CHI2_HOUR_BUCKETS = 4  # 6-hour quadrants of the day


def q_chi2_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the event_type × time-of-day
    contingency table — the feature-association screen (is behavior
    time-dependent?) run before trusting a categorical feature split.

    Exactness discipline: observed/row/column/grand totals are exact
    int64 (marginals via window sums over the CELL frame, which is
    |types|×|buckets|-bounded — constant at any corpus scale, so the
    unpartitioned total window is a bounded-frame operation, not a
    single-partition data pass). r14: the per-cell statistic runs
    the capacity-bounded two-step integer sequence shared with
    ``chisq_independence`` (SCALE.md §105) — e_u = half-up(1e6·R·C,
    N), then dev²/e_u — exact to N ≈ 3·10¹² rows where the former
    IEEE-double sequence was exact only below 2^53. The two lanes
    are deliberate siblings: this one keeps the PER-CELL reliability
    table on the events pair (type × hour); ``chisq_independence``
    is the summary-row test with df and the critical-value verdict
    on the orders pair. One data-sized shuffle total (the cell
    count).
    """
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (F.hour("ts") / (24 // CHI2_HOUR_BUCKETS)).cast("long").alias(
            "hour_bucket"
        ),
    ).agg(F.count("*").alias("n_obs"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("hour_bucket")
    wa = Window.partitionBy()
    m = cells.select(
        "event_type",
        "hour_bucket",
        "n_obs",
        F.sum("n_obs").over(wr).alias("r_tot"),
        F.sum("n_obs").over(wc).alias("c_tot"),
        F.sum("n_obs").over(wa).alias("n_tot"),
    )
    # r14 (the chisq_independence / SCALE.md §105 rule applied back):
    # the per-cell term runs the capacity-bounded TWO-step integer
    # sequence — e_u = half-up(1e6·R·C, N) then dev²/e_u — instead of
    # the former fixed-order IEEE double sequence; exact to
    # N ≈ 3·10¹² rows (the double form was exact only to d < 2^53,
    # and the old fp_ratio numerator r·c·1e6 wrapped int64 at
    # N ≈ 3·10⁶). expected is e_u itself projected to double — the
    # identical integer the old fp_ratio produced.
    dec = "decimal(38,0)"
    e_u = F.expr(
        f"CAST((2 * CAST(1000000 AS {dec}) * CAST(r_tot AS {dec})"
        f" * CAST(c_tot AS {dec}) + n_tot)"
        f" div (2 * CAST(n_tot AS {dec})) AS BIGINT)"
    )
    m = m.withColumn("e_u", e_u).withColumn(
        "dev", F.expr("CAST(1000000 AS BIGINT) * n_obs - e_u")
    )
    term_micro = F.expr(
        f"CASE WHEN e_u = 0 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST((2 * (CAST(dev AS {dec}) * CAST(dev AS {dec}))"
        f" + e_u) div (2 * CAST(e_u AS {dec})) AS BIGINT) END"
    )
    out = m.select(
        "event_type",
        "hour_bucket",
        "n_obs",
        (F.col("e_u").cast("double") / 1e6).alias("expected"),
        (term_micro.cast("double") / 1e6).alias("chi2_term"),
        term_micro.alias("_tm"),
    )
    return out.select(
        "event_type",
        "hour_bucket",
        "n_obs",
        "expected",
        "chi2_term",
        # a NULL term (e_u = 0) must poison the total, not shrink it
        (
            F.when(
                F.count("_tm").over(Window.partitionBy())
                == F.count(F.lit(1)).over(Window.partitionBy()),
                F.sum("_tm").over(Window.partitionBy()),
            ).cast("double")
            / 1e6
        ).alias("chi2_total"),
    )


SQL_CHI2_CONTINGENCY = f"""
WITH cells AS (
  SELECT event_type,
         CAST(hour(ts) // {24 // CHI2_HOUR_BUCKETS} AS BIGINT) AS hour_bucket,
         COUNT(*) AS n_obs
  FROM events GROUP BY event_type, hour_bucket
),
m AS (
  SELECT event_type, hour_bucket, n_obs,
         CAST(SUM(n_obs) OVER (PARTITION BY event_type) AS BIGINT) AS r_tot,
         CAST(SUM(n_obs) OVER (PARTITION BY hour_bucket) AS BIGINT) AS c_tot,
         CAST(SUM(n_obs) OVER () AS BIGINT) AS n_tot
  FROM cells
),
t0 AS (
  SELECT *,
         CAST((2 * CAST(1000000 AS HUGEINT) * CAST(r_tot AS HUGEINT)
               * CAST(c_tot AS HUGEINT) + n_tot)
              // (2 * CAST(n_tot AS HUGEINT)) AS BIGINT) AS e_u
  FROM m
),
t1 AS (SELECT *, CAST(1000000 AS BIGINT) * n_obs - e_u AS dev FROM t0),
t AS (
  SELECT event_type, hour_bucket, n_obs,
         CAST(e_u AS DOUBLE) / 1000000.0 AS expected,
         CASE WHEN e_u = 0 THEN NULL
              ELSE CAST((2 * (CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT))
                   + e_u) // (2 * CAST(e_u AS HUGEINT)) AS BIGINT) END
           AS tm
  FROM t1
)
SELECT event_type, hour_bucket, n_obs, expected,
       CAST(tm AS DOUBLE) / 1000000.0 AS chi2_term,
       CAST(CAST(CASE WHEN COUNT(tm) OVER () = COUNT(*) OVER ()
            THEN SUM(tm) OVER () END AS BIGINT) AS DOUBLE) / 1000000.0
         AS chi2_total
FROM t
"""


# --------------------------------------------------------------------
# metric_cuped
# --------------------------------------------------------------------

# CUPED pre/experiment period split: orders strictly before this date
# are the pre-period covariate window, the rest are the experiment
# metric window (the synthetic orders fixture spans 1995-2001, so
# both windows are well populated at every SF).
CUPED_SPLIT_DATE = "1998-01-01"

# Signed half-AWAY-from-zero pinned division (num/den scaled by
# {scale}): the midpoint-free (2*scale*num + den) div (2*den) house
# form is half-UP and assumes num >= 0; CUPED's covariance numerator
# is signed, so split on sign, run the magnitude form, negate back
# (the VERDICT r13 #5 sign-split — also reused by eval_qwk's kappa).
# den must be > 0 (variance numerators are, by Cauchy-Schwarz).
SIGNED_DIV_EXPR = (
    "CASE WHEN {den} = 0 THEN CAST(NULL AS BIGINT)"
    " WHEN ({num}) < 0 THEN CAST(-((2 * CAST({scale} AS {big})"
    " * CAST(-({num}) AS {big}) + {den})"
    " {div} (2 * CAST({den} AS {big}))) AS BIGINT)"
    " ELSE CAST((2 * CAST({scale} AS {big}) * CAST({num} AS {big})"
    " + {den}) {div} (2 * CAST({den} AS {big})) AS BIGINT) END"
)


def _period_unit_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer exact cent sums for the experiment (y) and
    pre- (x) periods split at :data:`CUPED_SPLIT_DATE` — the shared
    unit frame of the period-structured lanes (metric_cuped,
    metric_did): one combinable groupBy(unit) over the orders scan,
    zero for a unit silent in a period (the all-units frame)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
        (F.col("o_orderdate") < F.lit(CUPED_SPLIT_DATE).cast("date")).alias(
            "pre"
        ),
    )
    return o.groupBy("unit").agg(
        F.sum(F.when(~F.col("pre"), F.col("cents")).otherwise(0)).alias("y"),
        F.sum(F.when(F.col("pre"), F.col("cents")).otherwise(0)).alias("x"),
    )


def q_metric_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced arm means (Deng, Xu, Kohavi & Walker,
    WSDM 2013) for the A/B experiment's spend metric — the
    experimentation-platform standard the matrix still lacked
    (VERDICT r13 #3): each customer's experiment-period spend Y is
    adjusted by their PRE-period spend X (a covariate fixed before
    assignment, so independent of treatment), Y' = Y - theta*(X - Xbar)
    with theta = cov(Y,X)/var(X) pooled over all units. Var(Y')
    = Var(Y)*(1 - rho^2): with pre/post spend strongly correlated the
    adjusted means separate treatment effects at a fraction of the
    raw sample size.

    Unit discipline: customers (the randomization unit, the
    perm_test_diff rule), md5-gated into the same A/B arms as
    ``ab_test_metrics``. A unit's Y (or X) is 0 when it has no orders
    in that window — the standard all-units frame; dropping
    pre-period-silent units would bias theta toward heavy buyers.

    Exactness: per-unit Y/X are exact int64 cent sums; the pooled
    sufficient statistics (n, sx, sy, sxy, sxx) are exact
    decimal/HUGEINT; theta's numerator n*sxy - sx*sy and denominator
    n*sxx - sx^2 are exact decimal combinations (documented bound:
    n*sxy stays inside decimal(38,0) to ~1e9 units at ~1e9 cents
    each); theta_micro is ONE signed half-away pinned division
    (:data:`SIGNED_DIV_EXPR`); arm means and the pooled Xbar are the
    house half-up micro divisions on non-negative sums; the
    adjustment term theta_micro*(mean_x_arm - xbar) is an exact
    decimal product scaled back by ONE more signed half-away
    division by 10^6. Both engines execute the identical integer
    sequence, so the oracle matches bitwise. var(X) = 0 (a
    covariate-free corpus) pins theta_micro = 0 and the adjusted
    mean degrades to the raw mean — the production no-op, pinned by
    pytest.

    Scale shape: ONE map-side-combinable groupBy(unit) over the
    orders scan, one all-units aggregate to a 1-row pooled frame,
    one groupBy(arm) to a 2-row frame, and a broadcast of the 1-row
    pooled stats onto it. Zero data-sized joins, zero windows, zero
    sorts — the suffstat shape every moments lane uses.
    """
    dec = "decimal(38,0)"
    units = _period_unit_sums(spark, sf_dir)

    pooled = units.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        exact_product_sum(F.col("x"), F.col("y")).cast(dec).alias("sxy"),
        exact_product_sum(F.col("x"), F.col("x")).cast(dec).alias("sxx"),
    )
    cov_num = f"(CAST(n AS {dec}) * sxy - CAST(sx AS {dec}) * CAST(sy AS {dec}))"
    var_num = f"(CAST(n AS {dec}) * sxx - CAST(sx AS {dec}) * CAST(sx AS {dec}))"
    theta = SIGNED_DIV_EXPR.format(
        num=cov_num, den=var_num, scale=1000000, big=dec, div="div"
    )
    xbar = MICRO_MEAN_EXPR.format(n="n", s="sx", big=dec, div="div")
    pooled = pooled.select(
        F.coalesce(F.expr(theta), F.lit(0)).cast("long").alias("theta_micro"),
        F.expr(xbar).alias("xbar_micro"),
    )
    arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    arms = units.groupBy(
        F.when(arm, "A").otherwise("B").alias("arm")
    ).agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("y").alias("sy_arm"),
        F.sum("x").alias("sx_arm"),
    )
    my = MICRO_MEAN_EXPR.format(n="n_units", s="sy_arm", big=dec, div="div")
    mx = MICRO_MEAN_EXPR.format(n="n_units", s="sx_arm", big=dec, div="div")
    adj_term = SIGNED_DIV_EXPR.format(
        num=f"CAST(theta_micro AS {dec})"
        " * (CAST(mean_x_micro AS {big}) - CAST(xbar_micro AS {big}))".format(
            big=dec
        ),
        den="1000000",
        scale=1,
        big=dec,
        div="div",
    )
    return (
        arms.crossJoin(F.broadcast(pooled))
        .withColumn("mean_y_micro", F.expr(my))
        .withColumn("mean_x_micro", F.expr(mx))
        .withColumn(
            "adj_mean_micro",
            F.col("mean_y_micro") - F.expr(adj_term),
        )
        .select(
            "arm",
            "n_units",
            "mean_y_micro",
            "mean_x_micro",
            "theta_micro",
            "xbar_micro",
            "adj_mean_micro",
        )
    )


def _sql_metric_cuped() -> str:
    cov_num = "(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT))"
    var_num = "(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))"
    theta = SIGNED_DIV_EXPR.format(
        num=cov_num, den=var_num, scale=1000000, big="HUGEINT", div="//"
    )
    xbar = MICRO_MEAN_EXPR.format(n="n", s="sx", big="HUGEINT", div="//")
    my = MICRO_MEAN_EXPR.format(n="n_units", s="sy_arm", big="HUGEINT", div="//")
    mx = MICRO_MEAN_EXPR.format(n="n_units", s="sx_arm", big="HUGEINT", div="//")
    adj_term = SIGNED_DIV_EXPR.format(
        num="CAST(theta_micro AS HUGEINT)"
        " * (CAST(mean_x_micro AS HUGEINT) - CAST(xbar_micro AS HUGEINT))",
        den="1000000",
        scale=1,
        big="HUGEINT",
        div="//",
    )
    return f"""
WITH o AS (
  SELECT o_custkey AS unit,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderdate < DATE '{CUPED_SPLIT_DATE}' AS pre
  FROM orders
),
units AS (
  SELECT unit,
         CAST(SUM(CASE WHEN pre THEN 0 ELSE cents END) AS BIGINT) AS y,
         CAST(SUM(CASE WHEN pre THEN cents ELSE 0 END) AS BIGINT) AS x
  FROM o GROUP BY unit
),
pooled0 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM units
),
pooled AS (
  SELECT CAST(COALESCE({theta}, 0) AS BIGINT) AS theta_micro,
         {xbar} AS xbar_micro
  FROM pooled0
),
arms AS (
  SELECT CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
              < '{{bound}}' THEN 'A' ELSE 'B' END AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(y) AS BIGINT) AS sy_arm,
         CAST(SUM(x) AS BIGINT) AS sx_arm
  FROM units GROUP BY 1
),
m AS (
  SELECT arm, n_units, theta_micro, xbar_micro,
         {my} AS mean_y_micro,
         {mx} AS mean_x_micro
  FROM arms CROSS JOIN pooled
)
SELECT arm, n_units, mean_y_micro, mean_x_micro, theta_micro,
       xbar_micro,
       mean_y_micro - ({adj_term}) AS adj_mean_micro
FROM m
""".replace("{bound}", AB_SPLIT_BOUND)


SQL_METRIC_CUPED = _sql_metric_cuped()


# --------------------------------------------------------------------
# metric_did
# --------------------------------------------------------------------


def q_metric_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the A/B arms across the
    pre/experiment period split — the quasi-experimental readout the
    platform falls back to when randomization is suspect (a failed
    ``srm_check``, a staged rollout, a natural experiment): the
    naive post-period B−A difference is confounded by any standing
    level gap between the groups; DiD subtracts each arm's OWN
    pre-period mean first, so time-invariant unit-level confounding
    cancels and the estimate is the effect under the parallel-trends
    assumption. The lane reports the naive diff NEXT TO the DiD so
    the confounding itself is readable (their gap IS the pre-period
    imbalance).

    Shares :func:`_period_unit_sums` with ``metric_cuped`` — same
    units, same split, same exact cent sums — but answers a
    different question: CUPED uses the pre-period to shrink
    VARIANCE under valid randomization; DiD uses it to remove BIAS
    when randomization can't be trusted.

    Exactness: the four cell means (arm × period) are pinned
    half-up micro divisions on exact sums; both estimators are
    exact integer differences of those micros — zero further
    rounding. Scale shape: the shared combinable groupBy(unit),
    one 2-row arm aggregate, constant arithmetic. Zero joins,
    zero windows, zero broadcasts.
    """
    dec = "decimal(38,0)"
    units = _period_unit_sums(spark, sf_dir)
    arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    g = units.groupBy(
        F.when(arm, "A").otherwise("B").alias("arm")
    ).agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("y").alias("sy"),
        F.sum("x").alias("sx"),
    )
    my = MICRO_MEAN_EXPR.format(n="n_units", s="sy", big=dec, div="div")
    mx = MICRO_MEAN_EXPR.format(n="n_units", s="sx", big=dec, div="div")
    wide = (
        g.withColumn("mean_post_micro", F.expr(my))
        .withColumn("mean_pre_micro", F.expr(mx))
        .groupBy()
        .agg(
            F.max(F.when(F.col("arm") == "A", F.col("n_units"))).alias("n_a"),
            F.max(F.when(F.col("arm") == "B", F.col("n_units"))).alias("n_b"),
            F.max(
                F.when(F.col("arm") == "A", F.col("mean_pre_micro"))
            ).alias("pre_a_micro"),
            F.max(
                F.when(F.col("arm") == "A", F.col("mean_post_micro"))
            ).alias("post_a_micro"),
            F.max(
                F.when(F.col("arm") == "B", F.col("mean_pre_micro"))
            ).alias("pre_b_micro"),
            F.max(
                F.when(F.col("arm") == "B", F.col("mean_post_micro"))
            ).alias("post_b_micro"),
        )
    )
    return wide.select(
        "n_a",
        "n_b",
        "pre_a_micro",
        "post_a_micro",
        "pre_b_micro",
        "post_b_micro",
        (F.col("post_b_micro") - F.col("post_a_micro")).alias(
            "d_naive_micro"
        ),
        (
            (F.col("post_b_micro") - F.col("pre_b_micro"))
            - (F.col("post_a_micro") - F.col("pre_a_micro"))
        ).alias("did_micro"),
    )


def _sql_metric_did() -> str:
    my = MICRO_MEAN_EXPR.format(n="n_units", s="sy", big="HUGEINT", div="//")
    mx = MICRO_MEAN_EXPR.format(n="n_units", s="sx", big="HUGEINT", div="//")
    return f"""
WITH o AS (
  SELECT o_custkey AS unit,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderdate < DATE '{CUPED_SPLIT_DATE}' AS pre
  FROM orders
),
units AS (
  SELECT unit,
         CAST(SUM(CASE WHEN pre THEN 0 ELSE cents END) AS BIGINT) AS y,
         CAST(SUM(CASE WHEN pre THEN cents ELSE 0 END) AS BIGINT) AS x
  FROM o GROUP BY unit
),
g AS (
  SELECT CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
              < '{AB_SPLIT_BOUND}' THEN 'A' ELSE 'B' END AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x) AS BIGINT) AS sx
  FROM units GROUP BY 1
),
m AS (
  SELECT arm, n_units,
         {my} AS mean_post_micro,
         {mx} AS mean_pre_micro
  FROM g
),
wide AS (
  SELECT
    MAX(CASE WHEN arm = 'A' THEN n_units END) AS n_a,
    MAX(CASE WHEN arm = 'B' THEN n_units END) AS n_b,
    MAX(CASE WHEN arm = 'A' THEN mean_pre_micro END) AS pre_a_micro,
    MAX(CASE WHEN arm = 'A' THEN mean_post_micro END) AS post_a_micro,
    MAX(CASE WHEN arm = 'B' THEN mean_pre_micro END) AS pre_b_micro,
    MAX(CASE WHEN arm = 'B' THEN mean_post_micro END) AS post_b_micro
  FROM m
)
SELECT n_a, n_b, pre_a_micro, post_a_micro, pre_b_micro, post_b_micro,
       post_b_micro - post_a_micro AS d_naive_micro,
       (post_b_micro - pre_b_micro) - (post_a_micro - pre_a_micro)
         AS did_micro
FROM wide
"""


SQL_METRIC_DID = _sql_metric_did()


# --------------------------------------------------------------------
# fdr_bh
# --------------------------------------------------------------------

FDR_ALPHA_MICRO = 50_000  # alpha = 0.05 in micro units


def _segment_perm_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared per-segment permutation p-value frame both
    correction lanes read (fdr_bh and fdr_holm must correct the SAME
    p-values — a platform reporting both guarantees on different
    random draws would be incoherent): per order-priority segment,
    perm_test_diff's customer-level test of the arm mean-spend
    difference from the single f:-salted relabeling stream. Segments
    whose observed split empties an arm have no defined p and are
    excluded (engines also order NULLs differently, so the exclusion
    is a cross-engine correctness guard); m counts TESTABLE
    segments."""
    perms = _perms(spark, "perm")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.col("o_orderpriority").alias("seg"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )

    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    obs = _with_arm_diff(
        _arm_sums(o.groupBy("seg"), obs_arm), "d_obs_micro"
    ).select(
        "seg", "n_a", "n_b", "d_obs_micro"
    )
    rows = o.crossJoin(F.broadcast(perms))
    perm_arm = F.expr(
        "substring(md5(concat('f:', CAST(unit AS STRING), ':',"
        f" CAST(perm AS STRING))), 1, 4) < '{AB_SPLIT_BOUND}'"
    )
    g = _with_arm_diff(
        _arm_sums(rows.withColumn("ga", perm_arm).groupBy("seg", "perm"),
                  F.col("ga")),
        "d_micro",
    ).select("seg", "d_micro")
    pv = (
        g.join(F.broadcast(obs), "seg")
        .groupBy("seg", "n_a", "n_b", "d_obs_micro")
        .agg(
            F.count("d_micro").alias("n_perms"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.abs(F.col("d_micro"))
                        >= F.abs(F.col("d_obs_micro")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).cast("long").alias("n_ge"),
        )
        .withColumn("p_micro", F.expr(_PT_P_EXPR.format(div="div")))
    )
    return pv.where(F.col("p_micro").isNotNull())


def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over the per-segment
    permutation p-values — the multiple-comparisons gate every
    experiment readout needs once it slices by segment (VERDICT r13
    #6): five order-priority segments each run ``perm_test_diff``'s
    customer-level permutation test of the arm mean-spend difference
    (an independent ``f:``-salted relabeling stream, SHARED across
    segments — the real platform shape: many metrics read off the
    same experiment's randomness), and the five raw p-values are
    BH-adjusted, p_adj(i) = min over k ≥ i of p(k)·m/k capped at 1,
    rejected ⟺ p_adj ≤ alpha.

    Exactness: the per-segment machinery is perm_test_diff verbatim
    (exact counters, pinned half-up micro means, cross-engine md5
    labels, add-one p). The BH walk is pure integer arithmetic on
    the bounded m-row frame: each candidate p(k)·m/k is ONE pinned
    half-up integer division in micro units, the step-up "min over
    the tail" is a reversed running min window, and the verdict is
    an integer compare against alpha — no float ever appears, so
    the oracle matches bitwise. Ranks tie-break by segment name
    (deterministic).

    Scale shape: ONE ×B explode of the scan collapsing map-side to
    a |segments|·B counter frame, the |segments|-row observed
    broadcast, and windows only over the bounded m-row p frame.
    Zero data joins, zero data windows.
    """
    pv = _segment_perm_pvalues(spark, sf_dir)
    w_all = Window.partitionBy(F.lit(0))
    w_rank = w_all.orderBy("p_micro", "seg")
    w_tail = w_rank.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked = (
        pv.withColumn("m", F.count("*").over(w_all).cast("long"))
        .withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .withColumn(
            "cand",
            F.expr(
                "CAST((2 * CAST(p_micro AS BIGINT) * m + rnk)"
                " div (2 * rnk) AS BIGINT)"
            ),
        )
        .withColumn(
            "p_adj_micro",
            F.least(F.min("cand").over(w_tail), F.lit(1_000_000)),
        )
        .withColumn(
            "rejected", F.col("p_adj_micro") <= F.lit(FDR_ALPHA_MICRO)
        )
    )
    return ranked.select(
        "seg",
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_perms",
        "n_ge",
        "p_micro",
        "m",
        "rnk",
        "p_adj_micro",
        "rejected",
    )


def _sql_fdr_bh() -> str:
    u_a = MICRO_MEAN_EXPR.format(n="n_a", s="s_a", big="HUGEINT", div="//")
    u_b = MICRO_MEAN_EXPR.format(n="n_b", s="s_b", big="HUGEINT", div="//")
    p_expr = _PT_P_EXPR.format(div="//")
    return f"""
WITH perms AS (SELECT * FROM (VALUES {PERM_VALUES}) AS t(perm)),
o AS (
  SELECT o_custkey AS unit, o_orderpriority AS seg,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
obs0 AS (
  SELECT seg,
         CAST(SUM(CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
              < '{AB_SPLIT_BOUND}' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
              < '{AB_SPLIT_BOUND}' THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
             < '{AB_SPLIT_BOUND}' THEN CAST(cents AS HUGEINT)
             ELSE 0 END) AS s_a,
         SUM(CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
             < '{AB_SPLIT_BOUND}' THEN 0
             ELSE CAST(cents AS HUGEINT) END) AS s_b
  FROM o GROUP BY seg
),
obs AS (
  SELECT seg, n_a, n_b, ({u_b}) - ({u_a}) AS d_obs_micro FROM obs0
),
pg AS (
  SELECT seg, perm,
         substr(md5('f:' || CAST(unit AS VARCHAR) || ':'
                || CAST(perm AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS ga, cents
  FROM o CROSS JOIN perms
),
g0 AS (
  SELECT seg, perm,
         CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN ga THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_a,
         SUM(CASE WHEN ga THEN 0 ELSE CAST(cents AS HUGEINT) END) AS s_b
  FROM pg GROUP BY seg, perm
),
g AS (
  SELECT seg, ({u_b}) - ({u_a}) AS d_micro FROM g0
),
pv AS (
  SELECT o.seg, o.n_a, o.n_b, o.d_obs_micro,
         CAST(COUNT(d_micro) AS BIGINT) AS n_perms,
         CAST(COALESCE(SUM(CASE WHEN abs(d_micro)
              >= abs(d_obs_micro) THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_ge
  FROM g JOIN obs o ON g.seg = o.seg
  GROUP BY o.seg, o.n_a, o.n_b, o.d_obs_micro
),
pp AS (
  SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge,
         {p_expr} AS p_micro
  FROM pv
),
r AS (
  SELECT *,
         CAST(COUNT(*) OVER () AS BIGINT) AS m,
         CAST(row_number() OVER (ORDER BY p_micro, seg) AS BIGINT)
           AS rnk
  FROM pp WHERE p_micro IS NOT NULL
),
c AS (
  SELECT *,
         CAST((2 * CAST(p_micro AS BIGINT) * m + rnk)
              // (2 * rnk) AS BIGINT) AS cand
  FROM r
),
a AS (
  SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge, p_micro, m, rnk,
         LEAST(MIN(cand) OVER (ORDER BY rnk
                               ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING),
               1000000) AS p_adj_micro
  FROM c
)
SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge, p_micro, m, rnk,
       p_adj_micro, p_adj_micro <= {FDR_ALPHA_MICRO} AS rejected
FROM a
"""


SQL_FDR_BH = _sql_fdr_bh()


# --------------------------------------------------------------------
# fdr_holm
# --------------------------------------------------------------------


def q_fdr_holm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-DOWN correction over the SAME per-segment
    permutation p-values as ``fdr_bh`` — the FWER guarantee next to
    BH's FDR: Holm controls the chance of even ONE false rejection
    (the bar a ship/no-ship gate wants), BH controls the expected
    false-discovery share (the bar a screening pass wants); real
    platforms report both, and they must read the SAME p-values
    (:func:`_segment_perm_pvalues` — a platform correcting two
    different random draws would be incoherent; the two lanes'
    correctness is exactly that they disagree only in the walk).

    The Holm walk is even simpler than BH's: candidates
    c_k = (m−k+1)·p_(k) are PURE integer products (no division at
    all), the adjusted p is the prefix running MAX capped at 1
    (step-down monotonicity), and rejection is an integer compare
    against alpha. Where BH walks the tail with a reversed running
    min, Holm walks the head with a forward running max — both on
    the bounded m-row frame.

    Scale shape: identical to fdr_bh's (the shared p frame is ONE
    ×B explode collapsing to |segments|·B counters); the walk adds
    only bounded-frame windows. Zero extra data passes.
    """
    pv = _segment_perm_pvalues(spark, sf_dir)
    w_all = Window.partitionBy(F.lit(0))
    w_rank = w_all.orderBy("p_micro", "seg")
    w_head = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        pv.withColumn("m", F.count("*").over(w_all).cast("long"))
        .withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .withColumn(
            "cand",
            ((F.col("m") - F.col("rnk") + 1) * F.col("p_micro")).cast(
                "long"
            ),
        )
        .withColumn(
            "p_adj_micro",
            F.least(F.max("cand").over(w_head), F.lit(1_000_000)),
        )
        .withColumn(
            "rejected", F.col("p_adj_micro") <= F.lit(FDR_ALPHA_MICRO)
        )
    )
    return ranked.select(
        "seg",
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_perms",
        "n_ge",
        "p_micro",
        "m",
        "rnk",
        "p_adj_micro",
        "rejected",
    )


def _sql_fdr_holm() -> str:
    # identical p-value CTEs as SQL_FDR_BH (same f: stream), then the
    # step-down walk: integer candidates, forward running max, cap.
    base = SQL_FDR_BH[: SQL_FDR_BH.index("r AS (")]
    return f"""{base}r AS (
  SELECT *,
         CAST(COUNT(*) OVER () AS BIGINT) AS m,
         CAST(row_number() OVER (ORDER BY p_micro, seg) AS BIGINT)
           AS rnk
  FROM pp WHERE p_micro IS NOT NULL
),
c AS (
  SELECT *, CAST((m - rnk + 1) * p_micro AS BIGINT) AS cand FROM r
),
a AS (
  SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge, p_micro, m, rnk,
         LEAST(MAX(cand) OVER (ORDER BY rnk
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW),
               1000000) AS p_adj_micro
  FROM c
)
SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge, p_micro, m, rnk,
       p_adj_micro, p_adj_micro <= {FDR_ALPHA_MICRO} AS rejected
FROM a
"""


SQL_FDR_HOLM = _sql_fdr_holm()


# --------------------------------------------------------------------
# chisq_independence
# --------------------------------------------------------------------

# Published chi-square critical values at alpha = 0.05, df 1..24, in
# micro units (Pearson 1900 table — fixed constants, no CDF needed).
_CHISQ_CRIT_MICRO = {
    1: 3_841_459, 2: 5_991_465, 3: 7_814_728, 4: 9_487_729,
    5: 11_070_498, 6: 12_591_587, 7: 14_067_140, 8: 15_507_313,
    9: 16_918_978, 10: 18_307_038, 11: 19_675_138, 12: 21_026_070,
    13: 22_362_032, 14: 23_684_791, 15: 24_995_790, 16: 26_296_228,
    17: 27_587_112, 18: 28_869_299, 19: 30_143_527, 20: 31_410_433,
    21: 32_670_573, 22: 33_924_438, 23: 35_172_462, 24: 36_415_029,
}


def _chisq_crit_expr() -> str:
    branches = " ".join(
        f"WHEN df = {k} THEN CAST({v} AS BIGINT)"
        for k, v in _CHISQ_CRIT_MICRO.items()
    )
    return f"CASE {branches} ELSE CAST(NULL AS BIGINT) END"


def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority
    and order status — the categorical-association workhorse next to
    the A/B family's two-sample tests: srm_check is this statistic's
    1-df special case against a DESIGNED margin; here both margins
    are estimated and the question is whether the two categorical
    columns co-vary at all (the screening query every feature-audit
    and leakage hunt runs). Sibling: ``chi2_contingency`` (r4) keeps
    the PER-CELL reliability table on the events pair and now shares
    this lane's two-step arithmetic; this lane is the summary test
    with df and the critical-value verdict.

    Exactness — the pinned TWO-step per-cell sequence (each step a
    midpoint-free half-up integer division, the anova_oneway
    micro-quantize-then-exact-sum rule): e_u = (1e6·R_i·C_j)/N is
    the expected count in micro units (error ≤ 0.5 micro), dev =
    1e6·O_ij − e_u is an exact signed integer, and the cell term
    (O−E)²/E in micro is dev²/e_u via the second half-up division.
    dev² ≤ 1e12·N² stays inside decimal(38,0)/HUGEINT to N ≈ 3·10¹²
    rows — the naive single-division form 1e6·(O·N − R·C)²/(N·R·C)
    overflows at N ≈ 5.6·10⁷ and was rejected for exactly the reason
    VERDICT r13 #5 retired the double forms: bounds must be
    capacity bounds, not row-count bounds. ZERO cells are real: the
    margins' cross join synthesizes absent (priority, status) pairs
    with O = 0 so their E > 0 terms count (dropping them understates
    chi²). df = (r−1)(c−1); the alpha = 0.05 verdict is an integer
    compare against the published critical value (pinned micro
    table, df ≤ 24 — NULL past it, documented).

    Scale shape: ONE map-side-combinable groupBy over the scan to
    the ≤ r·c cell frame; margins, the zero-cell cross join, and
    the final reduce all run on that bounded frame (windows over
    ≤ 15 rows). Zero data joins, zero data windows.
    """
    dec = "decimal(38,0)"
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    )
    cells = o.groupBy("pr", "st").agg(F.count("*").alias("obs"))
    rows_m = cells.groupBy("pr").agg(F.sum("obs").alias("r_tot"))
    cols_m = cells.groupBy("st").agg(F.sum("obs").alias("c_tot"))
    full = (
        rows_m.crossJoin(cols_m)
        .join(cells, ["pr", "st"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
    )
    term = (
        f"CASE WHEN e_u = 0 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST((2 * (CAST(dev AS {dec}) * CAST(dev AS {dec}))"
        f" + e_u) div (2 * CAST(e_u AS {dec})) AS BIGINT) END"
    )
    terms = (
        full.withColumn(
            "n_total",
            F.sum("obs").over(
                Window.partitionBy(F.lit(0)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn(
            "e_u",
            F.expr(
                f"CAST((2 * CAST(1000000 AS {dec}) * CAST(r_tot AS {dec})"
                f" * CAST(c_tot AS {dec}) + n_total)"
                f" div (2 * CAST(n_total AS {dec})) AS BIGINT)"
            ),
        )
        .withColumn(
            "dev",
            F.expr("CAST(1000000 AS BIGINT) * obs - e_u"),
        )
        .withColumn("term_u", F.expr(term))
    )
    # SUM skips NULLs silently — a dropped undefined cell (e_u = 0,
    # reachable only when a singleton row+col pair meets N > ~2e12)
    # must POISON chi2, not shrink it (r14 adversarial review).
    out = terms.agg(
        F.max("n_total").cast("long").alias("n_total"),
        F.countDistinct("pr").cast("long").alias("n_rows"),
        F.countDistinct("st").cast("long").alias("n_cols"),
        F.when(
            F.count("term_u") == F.count(F.lit(1)),
            F.sum("term_u"),
        ).cast("long").alias("chi2_micro"),
    ).withColumn(
        "df",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).cast("long"),
    ).withColumn("crit_micro", F.expr(_chisq_crit_expr()))
    return out.select(
        "n_total",
        "n_rows",
        "n_cols",
        "df",
        "chi2_micro",
        "crit_micro",
        (F.col("chi2_micro") > F.col("crit_micro")).alias("dependent"),
    )


def _sql_chisq_independence() -> str:
    term = (
        "CASE WHEN e_u = 0 THEN NULL"
        " ELSE CAST((2 * (CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT))"
        " + e_u) // (2 * CAST(e_u AS HUGEINT)) AS BIGINT) END"
    )
    return f"""
WITH o AS (
  SELECT o_orderpriority AS pr, o_orderstatus AS st FROM orders
),
cells AS (
  SELECT pr, st, CAST(COUNT(*) AS BIGINT) AS obs
  FROM o GROUP BY pr, st
),
rm AS (SELECT pr, CAST(SUM(obs) AS BIGINT) AS r_tot FROM cells GROUP BY pr),
cm AS (SELECT st, CAST(SUM(obs) AS BIGINT) AS c_tot FROM cells GROUP BY st),
full_c AS (
  SELECT rm.pr, cm.st, rm.r_tot, cm.c_tot,
         COALESCE(cells.obs, 0) AS obs
  FROM rm CROSS JOIN cm
  LEFT JOIN cells ON cells.pr = rm.pr AND cells.st = cm.st
),
t0 AS (
  SELECT *, CAST(SUM(obs) OVER () AS BIGINT) AS n_total FROM full_c
),
t1 AS (
  SELECT *,
         CAST((2 * CAST(1000000 AS HUGEINT) * CAST(r_tot AS HUGEINT)
               * CAST(c_tot AS HUGEINT) + n_total)
              // (2 * CAST(n_total AS HUGEINT)) AS BIGINT) AS e_u
  FROM t0
),
t2 AS (
  SELECT *, CAST(1000000 AS BIGINT) * obs - e_u AS dev FROM t1
),
t3 AS (SELECT *, {term} AS term_u FROM t2),
agg AS (
  SELECT CAST(MAX(n_total) AS BIGINT) AS n_total,
         CAST(COUNT(DISTINCT pr) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT st) AS BIGINT) AS n_cols,
         CAST(CASE WHEN COUNT(term_u) = COUNT(*)
              THEN SUM(term_u) END AS BIGINT) AS chi2_micro
  FROM t3
),
d AS (
  SELECT *, CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS df FROM agg
)
SELECT n_total, n_rows, n_cols, df, chi2_micro,
       {_chisq_crit_expr()} AS crit_micro,
       chi2_micro > ({_chisq_crit_expr()}) AS dependent
FROM d
"""


SQL_CHISQ_INDEPENDENCE = _sql_chisq_independence()


# --------------------------------------------------------------------
# power_mde
# --------------------------------------------------------------------

# z_{1-alpha/2} + z_{power} for alpha = 0.05, power = 0.80:
# 1.959964 + 0.841621 = 2.801585, pinned in micro units (the fixed
# published normal quantiles — constants, no CDF evaluation).
POWER_Z_SUM_MICRO = 2_801_585


def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect (80% power, alpha = 0.05, two-sided)
    of an equal-split A/B test on mean order spend, per order status
    — the pre-experiment sizing readout every platform shows next to
    the CI lanes' post-hoc uncertainty: with the CURRENT n units per
    arm and the observed metric variance, the smallest true lift the
    test could reliably see is MDE = (z_{.975} + z_{.80})·sqrt(2s²/n).

    Exactness — the event_interarrival convention extended: the
    variance numerator V = n·Σy² − (Σy)² is exact decimal/HUGEINT;
    the finisher is a pinned IEEE sequence of TWO correctly-rounded
    sqrts on exact operands (sqrt(2V) and sqrt(n−1) — the
    single-radicand form sqrt(2V·(n−1)) was REJECTED because its
    radicand grows as n³·max² and leaves decimal(38,0) at n ≈ 3·10⁷;
    splitting the sqrt keeps every exact operand capacity-bounded,
    the SCALE.md §105 rule), one multiply by the pinned z constant,
    one division, one ROUND — bit-identical cross-engine. The n(n−1)
    double cast inside sd is exact to n ≈ 9·10⁷ and degrades to
    2⁻⁵³-relative past it (a readout-precision note, never a wrap).
    mde_rel (MDE as a share of the mean) is ONE more pinned half-up
    integer division of the two micro readouts.

    Scale shape: ONE map-side-combinable moments aggregate over the
    scan (|statuses| output rows). Zero joins, windows, broadcasts.
    """
    dec = "decimal(38,0)"
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    g = o.groupBy("status").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec).alias(
            "syy"
        ),
    )
    v = f"(CAST(n AS {dec}) * syy - CAST(sy AS {dec}) * CAST(sy AS {dec}))"
    mean = MICRO_MEAN_EXPR.format(n="n", s="sy", big=dec, div="div")
    sd = (
        "CASE WHEN n < 2 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST(ROUND((CAST(10000 AS DOUBLE)"
        f" * SQRT(CAST({v} AS DOUBLE)))"
        " / SQRT(CAST(n AS DOUBLE) * (n - 1)), 0) AS BIGINT) END"
    )
    mde = (
        "CASE WHEN n < 2 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST(ROUND((CAST({POWER_Z_SUM_MICRO} AS DOUBLE)"
        f" * SQRT(CAST(2 AS DOUBLE) * CAST({v} AS DOUBLE)))"
        " / (CAST(n AS DOUBLE) * SQRT(CAST(n - 1 AS DOUBLE)))"
        " / CAST(100 AS DOUBLE), 0) AS BIGINT) END"
    )
    rel = (
        "CASE WHEN mean_micro IS NULL OR mean_micro = 0"
        " OR mde_abs_micro IS NULL THEN CAST(NULL AS BIGINT)"
        " ELSE CAST((2 * CAST(1000000 AS {big})"
        " * CAST(mde_abs_micro AS {big}) + mean_micro)"
        " {div} (2 * CAST(mean_micro AS {big})) AS BIGINT) END"
    )
    return (
        g.withColumn("mean_micro", F.expr(mean))
        .withColumn("sd_micro", F.expr(sd))
        .withColumn("mde_abs_micro", F.expr(mde))
        .withColumn(
            "mde_rel_micro", F.expr(rel.format(big=dec, div="div"))
        )
        .select(
            "status",
            "n",
            "mean_micro",
            "sd_micro",
            "mde_abs_micro",
            "mde_rel_micro",
        )
    )


def _sql_power_mde() -> str:
    v = "(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT))"
    mean = MICRO_MEAN_EXPR.format(n="n", s="sy", big="HUGEINT", div="//")
    rel = (
        "CASE WHEN mean_micro IS NULL OR mean_micro = 0"
        " OR mde_abs_micro IS NULL THEN NULL"
        " ELSE CAST((2 * CAST(1000000 AS HUGEINT)"
        " * CAST(mde_abs_micro AS HUGEINT) + mean_micro)"
        " // (2 * CAST(mean_micro AS HUGEINT)) AS BIGINT) END"
    )
    return f"""
WITH o AS (
  SELECT o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sy,
         SUM(CAST(cents AS HUGEINT) * cents) AS syy
  FROM o GROUP BY status
),
m AS (
  SELECT status, n,
         {mean} AS mean_micro,
         CASE WHEN n < 2 THEN NULL
              ELSE CAST(ROUND((CAST(10000 AS DOUBLE)
                   * SQRT(CAST({v} AS DOUBLE)))
                   / SQRT(CAST(n AS DOUBLE) * (n - 1)), 0) AS BIGINT)
              END AS sd_micro,
         CASE WHEN n < 2 THEN NULL
              ELSE CAST(ROUND((CAST({POWER_Z_SUM_MICRO} AS DOUBLE)
                   * SQRT(CAST(2 AS DOUBLE) * CAST({v} AS DOUBLE)))
                   / (CAST(n AS DOUBLE) * SQRT(CAST(n - 1 AS DOUBLE)))
                   / CAST(100 AS DOUBLE), 0) AS BIGINT)
              END AS mde_abs_micro
  FROM g
)
SELECT status, n, mean_micro, sd_micro, mde_abs_micro,
       {rel} AS mde_rel_micro
FROM m
"""


SQL_POWER_MDE = _sql_power_mde()


# --------------------------------------------------------------------
# sample_size_calc
# --------------------------------------------------------------------

# target relative lifts the sizing table reports, in micro units
SSC_TARGETS_MICRO = (50_000, 10_000)  # 5% and 1% of the mean


def q_sample_size_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Required per-arm sample size to detect a TARGET relative lift
    (5% and 1% of the group mean) at 80% power / alpha 0.05 — the
    inverse readout of ``power_mde`` and the question a launch
    review actually asks ("how long must this run?"): since
    MDE ∝ 1/sqrt(n), the n detecting relative lift t is
    n_req = ceil(n · (mde_rel/t)²).

    Exactness: composes power_mde's frame — n_req =
    ceil(n · mde_rel_micro² / t_micro²) is pure integer arithmetic
    on the already-micro-quantized relative MDE (a documented
    second-level compose, the anova rule; intermediates ≤ n·10¹²
    fit decimal(38,0) to n ≈ 10²⁶). A direct closed form
    800·z²·V·n/((n−1)·Σy²) was REJECTED: its numerator compounds as
    n³·max² and dies at n ≈ 200 in decimal — the §105 capacity rule
    decides the op order again. Zero-variance groups need n_req = 0
    (any n detects any effect on a constant metric — pinned).

    Scale shape: identical to power_mde (one combinable moments
    aggregate, |statuses| rows); the sizing columns are constant
    arithmetic on that frame.
    """
    dec = "decimal(38,0)"
    base = q_power_mde(spark, sf_dir)
    out = base.select(
        "status",
        "n",
        "mean_micro",
        "sd_micro",
        "mde_rel_micro",
    )
    for t in SSC_TARGETS_MICRO:
        pct = t // 10_000
        # ceil on NON-NEGATIVE operands via (x + t² − 1) div t² —
        # the negate-floor-negate trick is a trap here: Spark `div`
        # and DuckDB `//` both TRUNCATE toward zero on negatives
        # (they only agree with floor on non-negative operands, the
        # domain every house division sticks to).
        out = out.withColumn(
            f"n_arm_for_{pct}pct",
            F.expr(
                "CASE WHEN mde_rel_micro IS NULL THEN CAST(NULL AS BIGINT)"
                " WHEN mde_rel_micro = 0 THEN CAST(0 AS BIGINT)"
                f" ELSE CAST((CAST(n AS {dec})"
                f" * CAST(mde_rel_micro AS {dec})"
                f" * CAST(mde_rel_micro AS {dec})"
                f" + {t * t - 1}) div CAST({t * t} AS {dec})"
                " AS BIGINT) END"
            ),
        )
    return out


def _sql_sample_size_calc() -> str:
    cols = []
    for t in SSC_TARGETS_MICRO:
        pct = t // 10_000
        cols.append(
            "CASE WHEN mde_rel_micro IS NULL THEN NULL"
            " WHEN mde_rel_micro = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((CAST(n AS HUGEINT)"
            " * CAST(mde_rel_micro AS HUGEINT)"
            " * CAST(mde_rel_micro AS HUGEINT)"
            f" + {t * t - 1}) // CAST({t * t} AS HUGEINT)"
            " AS BIGINT) END"
            f" AS n_arm_for_{pct}pct"
        )
    cols_sql = ",\n       ".join(cols)
    return f"""
WITH base AS ({SQL_POWER_MDE})
SELECT status, n, mean_micro, sd_micro, mde_rel_micro,
       {cols_sql}
FROM base
"""


SQL_SAMPLE_SIZE_CALC = _sql_sample_size_calc()


# --------------------------------------------------------------------
# quantile_select
# --------------------------------------------------------------------

QSEL_BUCKET = 50_000  # cents per selection bucket ($500; domain-bounded)
QSEL_MARGIN_DEN = 200  # rank tolerance for the sketch contract: n/200
# exact quantile fractions as integer pairs (no float q anywhere)
QSEL_QUANTILES = [(1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75"),
                  (9, 10, "p90"), (99, 100, "p99")]
QSEL_APPROX_ACC = 10_000  # approx_percentile accuracy (rank err <= n/acc)


def q_quantile_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 quantiles (value at rank ``ceil(q·n)``) of
    ``l_extendedprice`` cents per return flag, by DISTRIBUTED
    SELECTION — plus the sketch contract: Spark's
    ``approx_percentile`` estimate must land between the exact values
    at ranks ``r ∓ n/{margin_den}`` (50× looser than the sketch's own
    ``n/{acc}`` guarantee, so the boolean is stable under any merge
    order the Greenwald-Khanna summaries take).

    Rank targets are exact integer arithmetic (``ceil(qn·n/qd) =
    (qn·n + qd − 1) div qd``) — no float q, no interpolation, so the
    selected cents value is bitwise the same statistic in both
    engines regardless of how ties order.

    Scale shape — the reason this lane exists: the naive exact
    quantile is a per-group global sort (one task per group at any
    scale). This runs the selection decomposition instead: (1) one
    combinable count per (group, domain-bounded ``{bucket}``-cent
    bucket); (2) a bounded carry table locates, for each target rank,
    the ONE bucket containing it; (3) the raw scan is re-read
    FILTERED to those few buckets (partition-prunable predicate) and
    only bucket-local row_numbers are computed — each a
    bucket-sized task, never a group-sized one. The oracle computes
    every rank the naive way (one plain window) so the decomposition
    is hash-checked, not argued.
    """
    # NOT spread(), although the two selection passes run on only the
    # scan's 3 fixture partitions: measured at sf0.1 (r14, interleaved
    # min-of-5) the round-robin widen makes the lane 1.49 s → 2.50 s —
    # the repartition's extra pass + exchange of every (f, cents) row
    # costs more than the 3→32-task parallelism returns. At real scale
    # the scan has many splits and the question disappears.
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("f"),
        F.expr(
            "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
        ).alias("cents"),
    )
    b = li.withColumn("bucket", F.expr(f"cents div {QSEL_BUCKET}"))
    # (1) bounded per-bucket counts + carry of strictly-lower buckets
    wf = Window.partitionBy("f").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = (
        b.groupBy("f", "bucket")
        .agg(F.count("*").alias("bn"))
        .select(
            "f",
            "bucket",
            "bn",
            F.coalesce(F.sum("bn").over(wf), F.lit(0)).alias("below"),
        )
    )
    # (2) rank targets: mid = the quantile, lo/hi = the contract margin
    qlit = ", ".join(f"({qn}, {qd}, '{lab}')" for qn, qd, lab in QSEL_QUANTILES)
    targets = (
        li.groupBy("f")
        .agg(F.count("*").alias("n"))
        .crossJoin(
            spark.sql(
                f"SELECT * FROM VALUES {qlit} AS t(qn, qd, lab)"
            )
        )
        .withColumn("tr", F.expr("(qn * n + qd - 1) div qd"))
        .withColumn("m", F.expr(f"n div {QSEL_MARGIN_DEN}"))
        .select(
            "f",
            "lab",
            "n",
            "tr",
            F.explode(
                F.expr(
                    "array(named_struct('kind', 'lo', 'rk', greatest(tr - m, 1L)),"
                    " named_struct('kind', 'mid', 'rk', tr),"
                    " named_struct('kind', 'hi', 'rk', least(tr + m, n)))"
                )
            ).alias("t"),
        )
        .select("f", "lab", "n", "tr", "t.kind", "t.rk")
    )
    # locate each rank's bucket (bounded x bounded range join;
    # explicit string aliases — attribute-id refs resolved both `f`s
    # to one id here and Spark warned "trivially true predicate").
    # carry is broadcast-HINTED: it is domain-bounded (~200 buckets
    # per flag) but its size ESTIMATE grows with the input, and the
    # 16x scale probe caught Catalyst re-planning this join off
    # broadcast — the §82 rule: pin the strategy for every bounded
    # side, never let fixture-scale statistics choose it.
    locate = (
        targets.alias("t")
        .join(
            F.broadcast(carry.alias("k")),
            F.expr(
                "t.f = k.f AND k.below < t.rk"
                " AND k.below + k.bn >= t.rk"
            ),
        )
        .select(
            F.col("t.f").alias("f"),
            F.col("t.lab").alias("lab"),
            F.col("t.n").alias("n"),
            F.col("t.tr").alias("tr"),
            F.col("t.kind").alias("kind"),
            F.col("t.rk").alias("rk"),
            F.col("k.bucket").alias("bucket"),
            (F.col("t.rk") - F.col("k.below")).alias("rn_in"),
        )
    )
    # (3) bucket-pruned selection: only the located buckets are
    # RE-READ (a fresh scan lineage — this is literally the second
    # pass of the selection algorithm, and it sidesteps Spark's
    # ambiguous-self-join lint on b's reuse); row_number is
    # bucket-local (never group-global)
    need = locate.select("f", "bucket").distinct()
    b2 = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("f"),
            F.expr(
                "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
            ).alias("cents"),
        )
        .withColumn("bucket", F.expr(f"cents div {QSEL_BUCKET}"))
    )
    wrn = Window.partitionBy("f", "bucket").orderBy("cents")
    picked = (
        b2.join(F.broadcast(need), ["f", "bucket"])
        .withColumn("rn", F.row_number().over(wrn))
        .join(
            F.broadcast(locate),
            ["f", "bucket"],
        )
        .where(F.col("rn") == F.col("rn_in"))
        .groupBy("f", "lab", "n", "tr")
        .agg(
            F.max(F.when(F.col("kind") == "lo", F.col("cents"))).alias("lo_c"),
            F.max(F.when(F.col("kind") == "mid", F.col("cents"))).alias("mid_c"),
            F.max(F.when(F.col("kind") == "hi", F.col("cents"))).alias("hi_c"),
        )
    )
    # sketch lane: one pass, contract-checked against the exact rank
    # window [lo_c, hi_c]
    fr = [float(qn) / qd for qn, qd, _ in QSEL_QUANTILES]
    approx = (
        li.groupBy("f")
        .agg(
            F.percentile_approx(
                "cents", F.array(*[F.lit(x) for x in fr]), QSEL_APPROX_ACC
            ).alias("ap")
        )
        .select(
            "f",
            F.explode(
                F.arrays_zip(
                    F.array(
                        *[F.lit(lab) for _, _, lab in QSEL_QUANTILES]
                    ).alias("lab"),
                    F.col("ap").alias("apx"),
                )
            ).alias("z"),
        )
        .select("f", F.col("z.lab").alias("lab"), F.col("z.apx").alias("apx"))
    )
    # approx is groups x quantiles rows — broadcast-hinted for the
    # same §82 reason as carry
    return picked.join(F.broadcast(approx), ["f", "lab"]).select(
        F.col("f").alias("l_returnflag"),
        F.col("lab").alias("quantile"),
        F.col("n").alias("n_rows"),
        F.col("tr").alias("target_rank"),
        F.col("mid_c").alias("exact_cents"),
        (
            (F.col("apx") >= F.col("lo_c")) & (F.col("apx") <= F.col("hi_c"))
        ).alias("approx_ok"),
    )


q_quantile_select.__doc__ = q_quantile_select.__doc__.format(
    margin_den=QSEL_MARGIN_DEN, acc=QSEL_APPROX_ACC, bucket=QSEL_BUCKET
)


def _sql_quantile_select() -> str:
    qrows = ", ".join(
        f"({qn}, {qd}, '{lab}')" for qn, qd, lab in QSEL_QUANTILES
    )
    return f"""
WITH c AS (
  SELECT l_returnflag AS f,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem
),
n AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY f),
r AS (
  SELECT f, cents,
         ROW_NUMBER() OVER (PARTITION BY f ORDER BY cents) AS rn
  FROM c
),
t AS (
  SELECT n.f, n.n, q.lab,
         CAST((q.qn * n.n + q.qd - 1) // q.qd AS BIGINT) AS tr
  FROM n CROSS JOIN (VALUES {qrows}) AS q(qn, qd, lab)
)
SELECT t.f AS l_returnflag, t.lab AS quantile, t.n AS n_rows,
       t.tr AS target_rank,
       MAX(r.cents) AS exact_cents,
       TRUE AS approx_ok
FROM t JOIN r ON r.f = t.f AND r.rn = t.tr
GROUP BY t.f, t.lab, t.n, t.tr
"""


# --------------------------------------------------------------------
# corr_spearman
# --------------------------------------------------------------------

# Tie-aware DOUBLE rank: 2·avg_rank = 2·RANK() + |ties| − 1 is an
# integer even when the average rank is a .5, so the rank transform
# stays exact end-to-end. Scaling both variables by 2 leaves the
# correlation unchanged.
_SP_DRANK = "2 * {rank} + {ties} - 1"


def q_corr_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Spearman rank correlation between a customer's
    order count and total spend — the robust monotone-association
    sibling of ``corr_pearson`` (rank-based: one whale customer can't
    drag the coefficient; ties get average ranks, the textbook
    tie-aware definition, kept exact via integer DOUBLE ranks).

    Population: customers with ≥1 order (the inner join defines it
    deterministically). x = order count (small domain → heavy ties,
    which is exactly what the tie-aware path must handle), y = total
    spend in exact integer cents (DECIMAL(18,2)·100 — the
    ``corr_pearson`` cents rule). ρ is Pearson over the double-ranks
    from exact integer sufficient statistics: int64 n / Σdrx / Σdry,
    DECIMAL(38,0) (HUGEINT in the oracle) for the three product sums,
    then the pinned double op-sequence (three combination terms cast
    to double once, multiply, sqrt, divide, micro-round). Zero
    variance in either rank vector → NULL (correlation undefined —
    the ADVICE r7 standard). ``sum_d2`` (Σ(drx−dry)², the classic
    Spearman statistic; int64-safe to ~10⁶ rows per group, DECIMAL
    beyond) is exposed as the cross-check column.

    Scale shape: the per-customer aggregate is map-side combinable;
    the rank windows run per segment over the customer-sized frame —
    at fixture scale that keeps the oracle bitwise, and at 100 TB the
    tie-aware rank is the documented two-phase substitution: group by
    (segment, value) → tie counts (bounded by the distinct-value
    domain), prefix-sum the counts with the ``quantile_select``
    bucket decomposition, and join the per-VALUE double-rank back —
    no per-row window at all. The final stats are one 5-group
    combinable aggregate.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    per = orders.groupBy("o_custkey").agg(
        F.count("*").alias("x"), F.sum("cents").alias("y")
    )
    # customer grows with the corpus (it is not a bounded dimension):
    # shuffle_hash-pinned like ref_integrity_audit's parent joins —
    # a fixture-scale broadcast here would be the driver-OOM trap
    base = per.join(
        cust.hint("shuffle_hash"), per["o_custkey"] == cust["c_custkey"]
    ).select("c_mktsegment", "x", "y")

    def drank(col: str) -> F.Column:
        rank = F.rank().over(
            Window.partitionBy("c_mktsegment").orderBy(col)
        )
        ties = F.count("*").over(Window.partitionBy("c_mktsegment", col))
        return (
            F.lit(2) * rank.cast("long") + ties.cast("long") - F.lit(1)
        )

    ranked = base.select(
        "c_mktsegment",
        drank("x").alias("drx"),
        drank("y").alias("dry"),
    )
    # shared scaffolding (functions/numeric.py): decimal-first product
    # sums (the HUGEINT-parity rule) + the pinned corr op-sequence —
    # one source of truth with corr_pearson

    stats = ranked.groupBy("c_mktsegment").agg(
        *suffstat_agg(F.col("drx"), F.col("dry")),
        exact_product_sum(
            F.col("drx") - F.col("dry"), F.col("drx") - F.col("dry")
        ).alias("sd2"),
    )
    micro = corr_micro_from_stats()
    return stats.select(
        "c_mktsegment",
        F.col("n").alias("n_customers"),
        F.col("sd2").cast("long").alias("sum_d2"),
        (micro.cast("double") / 1e6).alias("rho_spearman"),
    )


SQL_CORR_SPEARMAN = f"""
WITH per AS (
  SELECT o_custkey,
         COUNT(*) AS x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY o_custkey
),
base AS (
  SELECT c_mktsegment, CAST(x AS BIGINT) AS x, y
  FROM per JOIN customer ON o_custkey = c_custkey
),
ranked AS (
  SELECT c_mktsegment,
         {_SP_DRANK.format(
             rank="RANK() OVER (PARTITION BY c_mktsegment ORDER BY x)",
             ties="COUNT(*) OVER (PARTITION BY c_mktsegment, x)")} AS drx,
         {_SP_DRANK.format(
             rank="RANK() OVER (PARTITION BY c_mktsegment ORDER BY y)",
             ties="COUNT(*) OVER (PARTITION BY c_mktsegment, y)")} AS dry
  FROM base
),
stats AS (
  SELECT c_mktsegment,
         COUNT(*) AS n,
         CAST(SUM(drx) AS BIGINT) AS sx,
         CAST(SUM(dry) AS BIGINT) AS sy,
         SUM(CAST(drx AS HUGEINT) * dry) AS sxy,
         SUM(CAST(drx AS HUGEINT) * drx) AS sxx,
         SUM(CAST(dry AS HUGEINT) * dry) AS syy,
         SUM(CAST(drx - dry AS HUGEINT) * (drx - dry)) AS sd2
  FROM ranked GROUP BY c_mktsegment
)
SELECT c_mktsegment,
       n AS n_customers,
       CAST(sd2 AS BIGINT) AS sum_d2,
       CAST({corr_micro_sql()} AS DOUBLE) / 1000000.0 AS rho_spearman
FROM stats
"""


# --------------------------------------------------------------------
# trend_linfit
# --------------------------------------------------------------------

# Day index origin: a fixed calendar constant (part of the lane's
# declared contract — the intercept is "expected daily count on
# 2024-01-01"). Exact integer in both engines.
TREND_EPOCH = dt.date(2024, 1, 1)


def q_trend_linfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily event counts: slope
    (events/day), intercept (expected count at ``TREND_EPOCH``), and
    R² — "is this series growing, how fast, and is the line a good
    fit?", the monitoring view next to ``forecast_snaive``'s
    seasonal predictor and ``ewma_smooth``'s level tracker.

    Everything is a pure function of exact integer sufficient
    statistics over the (event_type, day) aggregate: n, Σx, Σy int64;
    Σxy, Σx², Σy² DECIMAL(38,0)/HUGEINT. The closed forms
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²),
    intercept = (ΣyΣx² − ΣxΣxy) / (nΣx² − (Σx)²), and
    R² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))
    each cast their integer combination terms to double ONCE and run
    a pinned op-sequence (multiply, divide, micro-round), so both
    engines produce the same bits. A single-day group (zero x
    variance) has no defined line → all three NULL; a flat series
    (zero y variance) has slope/intercept but undefined R² → NULL
    (the ADVICE r7 zero-variance standard).

    Scale shape: one map-side-combinable (type, day) count — output
    bounded by the TIME domain (|types| × |days|), never corpus-sized
    (the ``alert_rate_spike`` rule) — then one |types|-group
    combinable aggregate of the six statistics. No windows, no
    joins, no broadcast; the heavy lifting is the first aggregate's
    partial combine at the scan.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit(TREND_EPOCH.isoformat()).cast("date")
        ).cast("long").alias("x"),
    ).agg(F.count("*").alias("y"))

    stats = daily.groupBy("event_type").agg(
        *suffstat_agg(F.col("x"), F.col("y"))
    )
    num_s, den, var_y, num_i = suffstat_terms()
    null_l = F.lit(None).cast("long")
    slope_micro = F.when(den == 0, null_l).otherwise(
        F.round(num_s / den * 1_000_000, 0).cast("long")
    )
    icept_micro = F.when(den == 0, null_l).otherwise(
        F.round(num_i / den * 1_000_000, 0).cast("long")
    )
    r2_micro = F.when((den == 0) | (var_y == 0), null_l).otherwise(
        F.round(num_s * num_s / (den * var_y) * 1_000_000, 0).cast("long")
    )
    return stats.select(
        "event_type",
        F.col("n").alias("n_days"),
        (slope_micro.cast("double") / 1e6).alias("slope_per_day"),
        (icept_micro.cast("double") / 1e6).alias("intercept_day0"),
        r2_micro.alias("r2_micro"),
    )


SQL_TREND_LINFIT = f"""
WITH daily AS (
  SELECT event_type,
         CAST(datediff('day', DATE '{TREND_EPOCH.isoformat()}',
                       CAST(ts AS DATE)) AS BIGINT) AS x,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM daily GROUP BY event_type
)
SELECT event_type,
       n AS n_days,
       CASE WHEN {SXX_SQL} = 0 THEN NULL
            ELSE CAST(CAST(ROUND(
              CAST({SXY_SQL} AS DOUBLE)
              / CAST({SXX_SQL} AS DOUBLE)
              * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0
       END AS slope_per_day,
       CASE WHEN {SXX_SQL} = 0 THEN NULL
            ELSE CAST(CAST(ROUND(
              CAST({ICEPT_SQL} AS DOUBLE)
              / CAST({SXX_SQL} AS DOUBLE)
              * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0
       END AS intercept_day0,
       CASE WHEN {SXX_SQL} = 0 OR {SYY_SQL} = 0 THEN NULL
            ELSE CAST(ROUND(
              CAST({SXY_SQL} AS DOUBLE)
              * CAST({SXY_SQL} AS DOUBLE)
              / (CAST({SXX_SQL} AS DOUBLE)
               * CAST({SYY_SQL} AS DOUBLE))
              * 1000000, 0) AS BIGINT)
       END AS r2_micro
FROM stats
"""


# --------------------------------------------------------------------
# anova_oneway
# --------------------------------------------------------------------

# Whole-dollar spend from exact integer cents: (cents + 50) DIV 100 is
# pure int64 arithmetic in both engines (truncating DIV == floor for
# non-negative operands), so the half-up dollar never touches the
# double->decimal midpoint trap a direct CAST(o_totalprice AS
# DECIMAL(18,0)) would risk on exact x.50 doubles.
_AOV_Y_EXPR = (
    "CAST((CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " + 50) {div} 100 AS BIGINT)"
)
# Per-group between-term s_g^2/n_g quantized to integer UNITS (the
# chi2_contingency rule: a pinned correctly-rounded double sequence on
# exact integers, quantized to an int so the CROSS-GROUP sum is exact
# integer addition, never an order-dependent float sum). Unit scale —
# not micros — keeps the quantized value inside int64 up to ~sf1000
# (s_g ~ 5e13 dollars, s_g^2/n_g ~ 7e18; documented bound).
_AOV_T_EXPR = (
    "CAST(ROUND(CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE) / {n}, 0)"
    " AS BIGINT)"
)
# F = (SSB/(k-1)) / (SSW/(N-k)), micro-quantized. Degenerate designs
# are NULL, not Inf/NaN: fewer than 2 groups (no between d.f.), no
# within d.f., or SSW quantized to <= 0 (perfect separation).
_AOV_F_EXPR = (
    "CASE WHEN k < 2 OR n_tot - k < 1 OR ssw_unit <= 0 THEN"
    " CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(ssb_unit AS DOUBLE) / (k - 1))"
    " / (CAST(ssw_unit AS DOUBLE) / (n_tot - k)) * 1000000, 0)"
    " AS BIGINT) END"
)


def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order spend across order priorities — does
    mean spend differ by group more than within-group noise explains?
    Completes the statistical-test matrix: ``chi2_contingency`` tests
    categorical×categorical, ``corr_pearson`` / ``corr_spearman``
    numeric×numeric; the categorical×numeric screen was the gap.

    Per group: n, mean spend (midpoint-free fixed-point quotient);
    repeated on every row (the ``chi2_total`` shape): the exact
    between/within sums of squares in whole-dollar units, both
    degrees of freedom, and the F statistic in micros. Exactness: y
    is an exact integer dollar (see ``_AOV_Y_EXPR``); each
    s_g²/n_g between-term runs one pinned double sequence and is
    quantized to integer units BEFORE the cross-group sum (the
    ``chi2_contingency`` rule), so SSB/SSW are exact integer
    combinations on both engines; F divides two exact integers
    through one pinned sequence. Degenerate designs (single group,
    zero within-variance) are NULL by contract.

    Scale shape: one map-side-combinable groupBy over orders (output
    bounded by |priorities|); every window after it rides the
    ≤|groups|-row carry frame (the bounded-carry exception). No
    joins, no broadcast, one data-sized shuffle (the partial agg).
    Int64 bounds: ss sums ride DECIMAL(38,0) accumulators; the
    unit-scaled terms are documented safe to ~sf1000.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(_AOV_Y_EXPR.format(div="DIV")).alias("y"),
    )

    g = base.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        exact_product_sum(F.col("y"), F.col("y")).alias("ss"),
    )
    g = g.withColumn(
        "t_unit", F.expr(_AOV_T_EXPR.format(s="s", n="n"))
    )
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = (
        g.withColumn("k", F.count("*").over(w))
        .withColumn("n_tot", F.sum("n").over(w))
        .withColumn("s_tot", F.sum("s").over(w))
        .withColumn("ss_tot", F.sum("ss").over(w).cast("decimal(38,0)"))
        .withColumn("sum_t", F.sum("t_unit").over(w))
    )
    g = g.withColumn(
        "grand_unit", F.expr(_AOV_T_EXPR.format(s="s_tot", n="n_tot"))
    ).withColumn(
        "ssb_unit", F.col("sum_t") - F.col("grand_unit")
    ).withColumn(
        "ssw_unit", F.col("ss_tot").cast("long") - F.col("sum_t")
    )

    f_micro = F.expr(_AOV_F_EXPR)
    return g.select(
        F.col("grp").alias("o_orderpriority"),
        F.col("n").alias("n_orders"),
        fp_ratio(F.col("s") * 1_000_000, F.col("n")).alias("mean_dollar"),
        "ssb_unit",
        "ssw_unit",
        (F.col("k") - 1).alias("df_between"),
        (F.col("n_tot") - F.col("k")).alias("df_within"),
        (f_micro.cast("double") / 1e6).alias("f_stat"),
    )


SQL_ANOVA_ONEWAY = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         {_AOV_Y_EXPR.format(div="//")} AS y
  FROM orders
),
g AS (
  SELECT grp,
         COUNT(*) AS n,
         CAST(SUM(y) AS BIGINT) AS s,
         SUM(CAST(y AS HUGEINT) * y) AS ss
  FROM base GROUP BY grp
),
t AS (
  SELECT *, {_AOV_T_EXPR.format(s="s", n="n")} AS t_unit FROM g
),
m AS (
  SELECT *,
         COUNT(*) OVER () AS k,
         CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
         CAST(SUM(s) OVER () AS BIGINT) AS s_tot,
         SUM(ss) OVER () AS ss_tot,
         CAST(SUM(t_unit) OVER () AS BIGINT) AS sum_t
  FROM t
),
v AS (
  SELECT *,
         sum_t - {_AOV_T_EXPR.format(s="s_tot", n="n_tot")} AS ssb_unit,
         CAST(ss_tot AS BIGINT) - sum_t AS ssw_unit
  FROM m
)
SELECT grp AS o_orderpriority,
       n AS n_orders,
       CAST((2 * s * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000.0
         AS mean_dollar,
       ssb_unit,
       ssw_unit,
       k - 1 AS df_between,
       n_tot - k AS df_within,
       CAST({_AOV_F_EXPR} AS DOUBLE) / 1000000.0 AS f_stat
FROM v
"""


# --------------------------------------------------------------------
# rank_mannwhitney
# --------------------------------------------------------------------

# Same bounded bucket quantization as drift_ks's two-phase ECDF
# (prices live in a known domain; ~60 buckets at any corpus size).
MW_PRICE_BUCKET = 10_000.0

# U/(n1*n2) is the AUC estimator (the probability a random urgent
# order outspends a random non-urgent one) — micro-quantized through
# the one shared expression; u_x2 carries 2*U so ties' half-ranks stay
# integer. Degenerate designs (an empty side) are NULL.
_MW_AUC_EXPR = (
    "CASE WHEN n_urgent = 0 OR n_other = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * u_x2)"
    " / (CAST(2 AS DOUBLE) * n_urgent * n_other), 0) AS BIGINT) END"
)


def q_rank_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) of order spend, urgent
    (priority 1–2) vs non-urgent orders — the NONPARAMETRIC two-sample
    location test next to ``anova_oneway``'s variance decomposition:
    rank-based, so no normality assumption and outlier-robust, and its
    normalized U/(n1·n2) is exactly the AUC of "spend separates
    urgent from non-urgent" (the ``eval_auc`` estimator, arrived at
    from the rank side).

    Exactness: everything before the single AUC division is INTEGER.
    Per distinct price: group counts from one combinable aggregate;
    the pooled tie-aware double-rank of value v is
    2·|pooled < v| + cnt(v) + 1 (= 2× the average rank), so
    2·R₁ = Σ d₁(v)·dr₂(v) is an exact integer sum (DECIMAL/HUGEINT
    accumulators) and u_x2 = 2U₁ = 2R₁ − n₁(n₁+1) is exact int64.

    Scale shape: the ``drift_ks`` two-phase decomposition verbatim —
    one per-value combinable groupBy, per-bucket running sums
    (parallel in-bucket windows), and a broadcast ≤ ~60-row carry
    table of strictly-lower-bucket totals + grand totals; the oracle
    computes the same ranks with one plain SQL window, so the
    two-phase equivalence is hash-checked, not argued. Nothing after
    the per-value groupBy is corpus-proportional.
    """
    orders = load_table(spark, sf_dir, "orders")
    g = (
        orders.select(
            F.col("o_totalprice").alias("p"),
            F.substring("o_orderpriority", 1, 1)
            .isin("1", "2")
            .cast("long")
            .alias("b"),
        )
        .groupBy("p")
        .agg(
            F.sum("b").alias("d1"),
            (F.count("*") - F.sum("b")).alias("d2"),
        )
        .withColumn("bucket", F.floor(F.col("p") / MW_PRICE_BUCKET))
    )

    carry = bucket_carry_totals(
        g.groupBy("bucket").agg(
            (F.sum("d1") + F.sum("d2")).alias("bd"),
            F.sum("d1").alias("bd1"),
            F.sum("d2").alias("bd2"),
        ),
        "bucket",
        carry_cols=["bd"],
        total_cols=["bd1", "bd2"],
    ).select(
        "bucket",
        F.col("carry_bd").alias("carry_all"),
        F.col("tot_bd1").alias("n_urgent"),
        F.col("tot_bd2").alias("n_other"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    terms = (
        g.withColumn("r_all", F.sum(F.col("d1") + F.col("d2")).over(w))
        .join(F.broadcast(carry), "bucket")
        .select(
            "n_urgent",
            "n_other",
            # less_all = pooled count strictly below v; dr2 = 2*avg rank
            (
                F.col("d1").cast("decimal(38,0)")
                * (
                    2
                    * (
                        F.col("carry_all")
                        + F.col("r_all")
                        - F.col("d1")
                        - F.col("d2")
                    )
                    + F.col("d1")
                    + F.col("d2")
                    + 1
                ).cast("decimal(38,0)")
            ).alias("term"),
        )
    )
    out = terms.groupBy("n_urgent", "n_other").agg(
        F.sum("term").alias("r1_x2")
    )
    return (
        out.withColumn(
            "u_x2",
            F.col("r1_x2").cast("long")
            - F.col("n_urgent") * (F.col("n_urgent") + 1),
        )
        .select(
            "n_urgent",
            "n_other",
            "u_x2",
            F.expr(_MW_AUC_EXPR).alias("auc_micro"),
        )
    )


SQL_RANK_MANNWHITNEY = f"""
WITH t AS (
  SELECT o_totalprice AS p,
         CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
              THEN 1 ELSE 0 END AS b
  FROM orders
),
g AS (
  SELECT p, CAST(SUM(b) AS BIGINT) AS d1,
         CAST(COUNT(*) - SUM(b) AS BIGINT) AS d2
  FROM t GROUP BY p
),
tot AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS n_urgent,
         CAST(SUM(d2) AS BIGINT) AS n_other
  FROM g
),
c AS (
  -- pooled inclusive running count; dr2 = 2*avg pooled rank at p
  SELECT d1, d2,
         CAST(SUM(d1 + d2) OVER (ORDER BY p) AS BIGINT) AS r_all
  FROM g
),
s AS (
  SELECT n_urgent, n_other,
         CAST(SUM(CAST(d1 AS HUGEINT)
                  * (2 * (r_all - d1 - d2) + d1 + d2 + 1)) AS BIGINT)
           AS r1_x2
  FROM c CROSS JOIN tot
  GROUP BY n_urgent, n_other
),
u AS (
  SELECT n_urgent, n_other,
         r1_x2 - n_urgent * (n_urgent + 1) AS u_x2
  FROM s
)
SELECT n_urgent, n_other, u_x2, {_MW_AUC_EXPR} AS auc_micro
FROM u
"""


# --------------------------------------------------------------------
# rank_test_u
# --------------------------------------------------------------------

# AUC = U_A/(n_a*n_b) = u_x2/(2*n_a*n_b) in micros, half-up on the
# non-negative operands (u_x2 >= 0 by construction).
_RTU_AUC_EXPR = (
    "CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(u_x2 AS {big})"
    " + 2 * CAST(n_a AS {big}) * CAST(n_b AS {big}))"
    " {div} (2 * (2 * CAST(n_a AS {big}) * CAST(n_b AS {big})))"
    " AS BIGINT) END"
)


def q_rank_test_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U permutation test of A/B arm order spend — the
    NONPARAMETRIC significance twin of ``perm_test_diff`` (VERDICT
    r13 #4): where the mean-difference test can be dragged by the
    heavy order-price tail, the rank statistic U asks only "does one
    arm's spend stochastically dominate?", and its normalized form
    U/(n_a·n_b) is the AUC of spend separating the arms (the
    ``rank_mannwhitney`` identity, arrived at from the testing side).

    The significance finisher is a PERMUTATION p, not the tie-
    corrected normal approximation (VERDICT r13 #4 offered the
    choice): the normal z needs sqrt(n_a·n_b·(N³−N−Σ(t³−t))·3N(N−1))
    whose radicand leaves decimal(38,0) near N ≈ 7·10⁵ rows, while
    the permutation compare below is a pure integer cross-
    multiplication exact to N ≈ 2·10⁹ — the 100 TB-honest form.

    Mechanics: the pooled tie-aware double-rank dr(v) = 2·|pooled<v|
    + cnt(v) + 1 is LABEL-FREE, so it is computed once from the
    value histogram (two-phase bucket carry — no global window) and
    joined back onto the scan; every relabeling then collapses to
    ONE map-side-combinable groupBy(p) of three exact counters
    (n_a, n_b, Σ_A dr): 2·R_A = Σ_A dr, u_x2 = 2U_A = Σ_A dr −
    n_a(n_a+1), and the deviation num = 2U_A − n_a·n_b. Cluster
    discipline: relabelings flip CUSTOMERS (md5('u:'||custkey||':'||p),
    the perm_test_diff rule), holding each customer's orders
    together. Two-sided compare of the NORMALIZED deviation
    |num_p|/(n_a_p·n_b_p) ≥ |num_obs|/(n_a·n_b) as the exact integer
    cross-multiplication |num_p|·(n_a·n_b) ≥ |num_obs|·(n_a_p·n_b_p)
    — no division ever happens inside the comparison. p is the
    add-one estimator, ONE pinned micro division; the AUC readout is
    one more. Empty-arm relabelings are excluded (``n_perms``
    effective). md5-derived labels: layout-free, rerun-stable,
    engine-identical.

    Scale shape: one per-value combinable groupBy + the bounded
    two-phase carry frame (broadcast), ONE corpus-proportional
    shuffle_hash join of dr onto the scan (both sides ∝ rows — the
    anti-broadcast rule), the ×B explode collapsing to B counter
    rows, and a 1-row observed broadcast. Zero windows over data,
    zero sorts.
    """

    dec = "decimal(38,0)"
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.col("o_totalprice").alias("p"),
    )
    h = o.groupBy("p").agg(F.count("*").alias("t")).withColumn(
        "bucket", F.floor(F.col("p") / MW_PRICE_BUCKET)
    )
    carry = bucket_carry_totals(
        h.groupBy("bucket").agg(F.sum("t").alias("bd")),
        "bucket",
        carry_cols=["bd"],
        total_cols=[],
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dr = (
        h.withColumn("r", F.sum("t").over(w))
        .join(F.broadcast(carry), "bucket")
        .select(
            "p",
            (
                2 * (F.col("carry_bd") + F.col("r") - F.col("t"))
                + F.col("t")
                + 1
            ).alias("dr"),
        )
    )
    od = o.join(dr.hint("shuffle_hash"), "p").select("unit", "dr")

    def stats(df, arm, perm_keyed):
        # project the md5 gate ONCE per row (it would otherwise be
        # re-evaluated inside each of the three aggregates)
        df = df.withColumn("ga", arm)
        keys = ["perm"] if perm_keyed else []
        gb = df.groupBy(*keys) if keys else df
        agg = gb.agg(
            F.sum(F.col("ga").cast("long")).alias("n_a"),
            F.sum((~F.col("ga")).cast("long")).alias("n_b"),
            F.sum(F.when(F.col("ga"), F.col("dr")).otherwise(0).cast(dec))
            .cast(dec)
            .alias("sdr_a"),
        )
        return agg.withColumn(
            "num",
            F.expr(
                f"CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS {dec})"
                f" ELSE sdr_a - CAST(n_a AS {dec}) * (n_a + 1)"
                f" - CAST(n_a AS {dec}) * CAST(n_b AS {dec}) END"
            ),
        )

    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    obs = (
        stats(od, obs_arm, False)
        .withColumn(
            "u_x2",
            F.expr(
                f"CAST(sdr_a - CAST(n_a AS {dec}) * (n_a + 1) AS BIGINT)"
            ),
        )
        .select("n_a", "n_b", "u_x2", F.col("num").alias("num_obs"))
    )
    perms = _perms(spark, "perm")
    rows = od.crossJoin(F.broadcast(perms))
    perm_arm = F.expr(
        "substring(md5(concat('u:', CAST(unit AS STRING), ':',"
        f" CAST(perm AS STRING))), 1, 4) < '{AB_SPLIT_BOUND}'"
    )
    g = stats(rows, perm_arm, True).select(
        "perm",
        F.col("n_a").alias("pn_a"),
        F.col("n_b").alias("pn_b"),
        "num",
    )
    joined = g.crossJoin(F.broadcast(obs))
    ge = F.expr(
        f"CASE WHEN num IS NULL THEN NULL WHEN"
        f" abs(num) * CAST(n_a AS {dec}) * CAST(n_b AS {dec})"
        f" >= abs(CAST(num_obs AS {dec}))"
        f" * CAST(pn_a AS {dec}) * CAST(pn_b AS {dec})"
        f" THEN 1 ELSE 0 END"
    )
    stats_out = joined.groupBy("n_a", "n_b", "u_x2", "num_obs").agg(
        F.count("num").alias("n_perms"),
        F.coalesce(F.sum(ge), F.lit(0)).cast("long").alias("n_ge"),
    )
    return stats_out.select(
        "n_a",
        "n_b",
        "u_x2",
        F.expr(_RTU_AUC_EXPR.format(big=dec, div="div")).alias(
            "auc_micro"
        ),
        "n_perms",
        "n_ge",
        F.expr(
            _PT_P_EXPR.format(div="div").replace(
                "d_obs_micro", "num_obs"
            )
        ).alias("p_micro"),
    )


def _sql_rank_test_u() -> str:
    return f"""
WITH o AS (
  SELECT o_custkey AS unit, o_totalprice AS p FROM orders
),
perms AS (SELECT * FROM (VALUES {PERM_VALUES}) AS t(perm)),
h AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS t FROM o GROUP BY p),
d AS (
  SELECT p,
         2 * (SUM(t) OVER (ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - t) + t + 1 AS dr
  FROM h
),
od AS (SELECT o.unit, d.dr FROM o JOIN d USING (p)),
obsg AS (
  SELECT substr(md5(CAST(unit AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS ga, dr
  FROM od
),
obs0 AS (
  SELECT
    CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
    SUM(CASE WHEN ga THEN CAST(dr AS HUGEINT) ELSE 0 END) AS sdr_a
  FROM obsg
),
obs AS (
  SELECT n_a, n_b,
         CAST(sdr_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT)
           AS u_x2,
         CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
              ELSE sdr_a - CAST(n_a AS HUGEINT) * (n_a + 1)
                   - CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) END
           AS num_obs
  FROM obs0
),
pg AS (
  SELECT perm,
         substr(md5('u:' || CAST(unit AS VARCHAR) || ':'
                || CAST(perm AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS ga, dr
  FROM od CROSS JOIN perms
),
g0 AS (
  SELECT perm,
    CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS pn_a,
    CAST(SUM(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS pn_b,
    SUM(CASE WHEN ga THEN CAST(dr AS HUGEINT) ELSE 0 END) AS sdr_a
  FROM pg GROUP BY perm
),
g AS (
  SELECT perm, pn_a, pn_b,
         CASE WHEN pn_a = 0 OR pn_b = 0 THEN NULL
              ELSE sdr_a - CAST(pn_a AS HUGEINT) * (pn_a + 1)
                   - CAST(pn_a AS HUGEINT) * CAST(pn_b AS HUGEINT) END
           AS num
  FROM g0
),
s AS (
  SELECT n_a, n_b, u_x2, num_obs,
         CAST(COUNT(num) AS BIGINT) AS n_perms,
         CAST(COALESCE(SUM(CASE WHEN num IS NULL THEN NULL
              WHEN abs(num) * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
                   >= abs(CAST(num_obs AS HUGEINT))
                      * CAST(pn_a AS HUGEINT) * CAST(pn_b AS HUGEINT)
              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ge
  FROM g CROSS JOIN obs
  GROUP BY n_a, n_b, u_x2, num_obs
)
SELECT n_a, n_b, u_x2,
       {_RTU_AUC_EXPR.format(big="HUGEINT", div="//")} AS auc_micro,
       n_perms, n_ge,
       {_PT_P_EXPR.format(div="//").replace("d_obs_micro", "num_obs")}
         AS p_micro
FROM s
"""


SQL_RANK_TEST_U = _sql_rank_test_u()


# --------------------------------------------------------------------
# survival_km
# --------------------------------------------------------------------

KM_HORIZON_DAYS = 7  # administrative censoring horizon (buckets 0..7)
_US_PER_DAY = 86_400_000_000


def _km_chain_exprs(big: str, div: str) -> list[tuple[str, str]]:
    """The unrolled at-risk/survival chain over the fixed 8-bucket
    frame (the pass@k §108 trick with TWO running values): n_0 = U,
    n_{b+1} = n_b − r_b, and S_b = round_half_up(S_{b−1}·(n_b −
    d_b)/n_b) in micro units — one pinned division per bucket, every
    operand ≤ 1e6·U. n_b = 0 (nobody left at risk) carries S
    unchanged (factor 1, the KM convention past the last subject)."""
    out = []
    for b in range(KM_HORIZON_DAYS + 1):
        n_expr = (
            "CAST(u_total AS BIGINT)"
            if b == 0
            else f"n{b - 1} - r{b - 1}"
        )
        prev_s = "CAST(1000000 AS BIGINT)" if b == 0 else f"s{b - 1}"
        s_expr = (
            f"CASE WHEN n{b} <= 0 THEN {prev_s}"
            f" WHEN {prev_s} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE CAST((2 * CAST({prev_s} AS {big}) * (n{b} - d{b})"
            f" + n{b}) {div} (2 * CAST(n{b} AS {big})) AS BIGINT) END"
        )
        out.append((n_expr, s_expr))
    return out


def _km_user_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (user_id, t0, terr, tl) exact-µs frame shared by the
    survival lanes (survival_km, survival_logrank): first event,
    first error, last event — one combinable groupBy(user)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        "event_type",
    )
    return e.groupBy("user_id").agg(
        F.min("us").alias("t0"),
        F.min(F.when(F.col("event_type") == "error", F.col("us"))).alias(
            "terr"
        ),
        F.max("us").alias("tl"),
    )


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival of time-to-first-error per
    user (Kaplan & Meier 1958) over day buckets 0..7 — the
    censoring-aware reliability curve a naive "share of users who
    errored by day t" gets WRONG the moment observation windows
    differ: a user last seen on day 2 without an error is not
    error-free through day 7, they are CENSORED at day 2, and KM is
    the standard estimator that keeps them in the at-risk set
    exactly as long as they were observed.

    Definitions (all exact integer µs arithmetic on
    ``unix_micros``): t₀ = the user's first event; death at bucket
    b = floor((first_error − t₀)/day) when that lands ≤ 6;
    otherwise administrative censoring at min(floor((last_event −
    t₀)/day), 7). Censored-at-b users remain at risk for deaths AT
    b (the standard tie convention). The at-risk/survival recursion
    runs as the §108 unrolled pinned chain on the single wide
    counter row — S_b = Π_{s≤b}(1 − d_s/n_s) with one half-up micro
    division per bucket (operands ≤ 1e6·U, capacity-bounded at any
    user count; the closed product form would need Π n_s ≈ U⁸) —
    then unpivots to the 8-row survival table. n_b = 0 carries S
    (factor 1); the recompute pytest mirrors the exact sequence.

    Scale shape: ONE combinable groupBy(user) over the events scan,
    ONE single-row conditional aggregate (16 counters), constant
    chained expressions, and a constant 8-row unpivot. Zero joins,
    zero windows, zero broadcasts.
    """
    dec = "decimal(38,0)"
    H = KM_HORIZON_DAYS
    per = _km_user_frame(spark, sf_dir).select(
        F.expr(
            f"terr IS NOT NULL AND (terr - t0) div {_US_PER_DAY}"
            f" <= {H - 1}"
        ).alias("death"),
        F.expr(
            f"CASE WHEN terr IS NOT NULL AND (terr - t0) div"
            f" {_US_PER_DAY} <= {H - 1}"
            f" THEN (terr - t0) div {_US_PER_DAY}"
            f" ELSE least((tl - t0) div {_US_PER_DAY},"
            f" CAST({H} AS BIGINT)) END"
        ).alias("b"),
    )
    aggs = [F.count("*").cast("long").alias("u_total")]
    for b in range(H + 1):
        aggs.append(
            F.sum((F.col("death") & (F.col("b") == b)).cast("long"))
            .cast("long")
            .alias(f"d{b}")
        )
        aggs.append(
            F.sum((F.col("b") == b).cast("long"))
            .cast("long")
            .alias(f"r{b}")
        )
    wide = per.agg(*aggs)
    for b, (n_expr, s_expr) in enumerate(_km_chain_exprs(dec, "div")):
        wide = wide.withColumn(f"n{b}", F.expr(n_expr))
        wide = wide.withColumn(f"s{b}", F.expr(s_expr))
    stack = ", ".join(
        f"{b}, n{b}, d{b}, r{b} - d{b}, s{b}" for b in range(H + 1)
    )
    return wide.select(
        F.expr(
            f"stack({H + 1}, {stack}) AS"
            " (day, n_risk, n_death, n_censor, s_micro)"
        )
    ).select(
        F.col("day").cast("long").alias("day"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_death").cast("long").alias("n_death"),
        F.col("n_censor").cast("long").alias("n_censor"),
        "s_micro",
    )


def _sql_survival_km() -> str:
    H = KM_HORIZON_DAYS
    counters = ",\n         ".join(
        f"CAST(SUM(CASE WHEN death AND b = {b} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS d{b},\n         "
        f"CAST(SUM(CASE WHEN b = {b} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS r{b}"
        for b in range(H + 1)
    )
    ctes = []
    prev = "wide"
    for b, (n_expr, s_expr) in enumerate(_km_chain_exprs("HUGEINT", "//")):
        ctes.append(
            f"t{b} AS (SELECT *, {n_expr} AS n{b} FROM {prev}),\n"
            f"u{b} AS (SELECT *, {s_expr} AS s{b} FROM t{b})"
        )
        prev = f"u{b}"
    joined_ctes = ",\n".join(ctes)
    outs = "\nUNION ALL\n".join(
        f"SELECT {b} AS day, n{b} AS n_risk, d{b} AS n_death,"
        f" r{b} - d{b} AS n_censor, s{b} AS s_micro FROM {prev}"
        for b in range(H + 1)
    )
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
  FROM events
),
uu AS (
  SELECT user_id, MIN(us) AS t0,
         MIN(CASE WHEN event_type = 'error' THEN us END) AS terr,
         MAX(us) AS tl
  FROM e GROUP BY user_id
),
per AS (
  SELECT terr IS NOT NULL AND (terr - t0) // {_US_PER_DAY}
           <= {H - 1} AS death,
         CASE WHEN terr IS NOT NULL AND (terr - t0) // {_US_PER_DAY}
                   <= {H - 1}
              THEN (terr - t0) // {_US_PER_DAY}
              ELSE LEAST((tl - t0) // {_US_PER_DAY},
                         CAST({H} AS BIGINT)) END AS b
  FROM uu
),
wide AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS u_total,
         {counters}
  FROM per
),
{joined_ctes}
SELECT * FROM (
{outs}
) ORDER BY day
"""


SQL_SURVIVAL_KM = _sql_survival_km()


# --------------------------------------------------------------------
# survival_logrank
# --------------------------------------------------------------------


def _lr_chain_exprs(big: str, div: str) -> list[dict]:
    """Per-bucket expressions of the two-group log-rank walk over the
    fixed 8-bucket frame (the §109 wide-row trick with TWO at-risk
    recursions): nA_0 = U_A, nA_{b+1} = nA_b − rA_b (same for B);
    per bucket, with n_t = nA+nB and d_t = dA+dB,
    e = half-up(1e6·d_t·nA, n_t) (expected A-deaths, micro),
    diff = 1e6·dA − e (exact signed),
    v1 = half-up(1e6·nA·nB, n_t²) (≤ 250000),
    V = half-up(v1·d_t·(n_t−d_t), n_t−1) (micro) —
    the §105 capacity split: the one-division hypergeometric form's
    numerator nA·nB·d(n−d)·1e6 compounds as n⁴ (dead at N ≈ 5.6·10⁷)
    while the split's largest intermediate is ≤ 6.25e4·n². Buckets
    with n_t ≤ 1 or d_t = 0 contribute exact zeros."""
    out = []
    for b in range(KM_HORIZON_DAYS + 1):
        na = "CAST(ua AS BIGINT)" if b == 0 else f"na{b - 1} - ra{b - 1}"
        nb = "CAST(ub AS BIGINT)" if b == 0 else f"nb{b - 1} - rb{b - 1}"
        pre = (
            f"(na{b} + nb{b} <= 1 OR da{b} + db{b} = 0)"
        )
        e = (
            f"CASE WHEN {pre} THEN CAST(0 AS BIGINT)"
            f" ELSE CAST((2 * CAST(1000000 AS {big})"
            f" * CAST(da{b} + db{b} AS {big}) * na{b}"
            f" + (na{b} + nb{b}))"
            f" {div} (2 * CAST(na{b} + nb{b} AS {big})) AS BIGINT) END"
        )
        diff = (
            f"CASE WHEN {pre} THEN CAST(0 AS BIGINT)"
            f" ELSE CAST(1000000 AS BIGINT) * da{b} - e{b} END"
        )
        v1 = (
            f"CASE WHEN {pre} THEN CAST(0 AS BIGINT)"
            f" ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(na{b} AS {big})"
            f" * nb{b} + CAST(na{b} + nb{b} AS {big})"
            f" * (na{b} + nb{b}))"
            f" {div} (2 * CAST(na{b} + nb{b} AS {big})"
            f" * (na{b} + nb{b})) AS BIGINT) END"
        )
        vv = (
            f"CASE WHEN {pre} THEN CAST(0 AS BIGINT)"
            f" ELSE CAST((2 * CAST(v1_{b} AS {big})"
            f" * (da{b} + db{b}) * (na{b} + nb{b} - da{b} - db{b})"
            f" + (na{b} + nb{b} - 1))"
            f" {div} (2 * CAST(na{b} + nb{b} - 1 AS {big}))"
            f" AS BIGINT) END"
        )
        out.append(
            {"na": na, "nb": nb, "e": e, "diff": diff, "v1": v1, "v": vv}
        )
    return out


LOGRANK_CRIT_MICRO = 3_841_459  # chi-square(1 df) at alpha = 0.05


def q_survival_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test (Mantel 1966) of time-to-first-error
    between the md5 A/B arms over the survival_km day buckets — the
    censoring-aware answer to "does treatment change RELIABILITY?":
    comparing arms on raw error rates ignores differing observation
    windows exactly as the naive error share did in §109; the
    log-rank statistic accumulates, per bucket, the observed-minus-
    expected A-deaths under the hypergeometric null, normalized by
    its exact variance.

    Exactness: the usual counters (one groupBy(user), one single-row
    wide aggregate — now 4 counters per bucket across two groups),
    the per-bucket expected/variance as the §105-split pinned
    divisions (see :func:`_lr_chain_exprs` — the one-shot
    hypergeometric form compounds as n⁴), the O−E sum exact signed
    micro, the variance sum exact over quantized terms (the anova
    rule), chi² = (ΣO−E)²/ΣV as ONE final half-up division on the
    micro pair, and the alpha = .05 verdict an integer compare
    against the published chi²(1) critical value. ΣV = 0 (no
    at-risk overlap) → NULL chi², documented.

    Scale shape: identical to survival_km's two-exchange shape —
    groupBy(user), single-row wide counters, constant chained
    expressions. Zero joins, zero windows over data.
    """

    dec = "decimal(38,0)"
    H = KM_HORIZON_DAYS
    u = _km_user_frame(spark, sf_dir)
    per = u.select(
        (
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4)
            < AB_SPLIT_BOUND
        ).alias("a"),
        F.expr(
            f"terr IS NOT NULL AND (terr - t0) div {_US_PER_DAY}"
            f" <= {H - 1}"
        ).alias("death"),
        F.expr(
            f"CASE WHEN terr IS NOT NULL AND (terr - t0) div"
            f" {_US_PER_DAY} <= {H - 1}"
            f" THEN (terr - t0) div {_US_PER_DAY}"
            f" ELSE least((tl - t0) div {_US_PER_DAY},"
            f" CAST({H} AS BIGINT)) END"
        ).alias("b"),
    )
    aggs = [
        F.sum(F.col("a").cast("long")).cast("long").alias("ua"),
        F.sum((~F.col("a")).cast("long")).cast("long").alias("ub"),
    ]
    for b in range(H + 1):
        for grp, cond in (("a", F.col("a")), ("b", ~F.col("a"))):
            aggs.append(
                F.sum(
                    (cond & F.col("death") & (F.col("b") == b)).cast("long")
                ).cast("long").alias(f"d{grp}{b}")
            )
            aggs.append(
                F.sum((cond & (F.col("b") == b)).cast("long"))
                .cast("long")
                .alias(f"r{grp}{b}")
            )
    wide = per.agg(*aggs)
    for b, ex in enumerate(_lr_chain_exprs(dec, "div")):
        wide = (
            wide.withColumn(f"na{b}", F.expr(ex["na"]))
            .withColumn(f"nb{b}", F.expr(ex["nb"]))
            .withColumn(f"e{b}", F.expr(ex["e"]))
            .withColumn(f"diff{b}", F.expr(ex["diff"]))
            .withColumn(f"v1_{b}", F.expr(ex["v1"]))
            .withColumn(f"v{b}", F.expr(ex["v"]))
        )
    diff_sum = " + ".join(f"diff{b}" for b in range(H + 1))
    v_sum = " + ".join(f"v{b}" for b in range(H + 1))
    da_sum = " + ".join(f"da{b}" for b in range(H + 1))
    db_sum = " + ".join(f"db{b}" for b in range(H + 1))
    chi2 = (
        f"CASE WHEN ({v_sum}) = 0 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST((2 * (CAST({diff_sum} AS {dec})"
        f" * CAST({diff_sum} AS {dec})) + ({v_sum}))"
        f" div (2 * CAST({v_sum} AS {dec})) AS BIGINT) END"
    )
    return wide.select(
        F.col("ua").alias("n_users_a"),
        F.col("ub").alias("n_users_b"),
        F.expr(f"CAST({da_sum} AS BIGINT)").alias("deaths_a"),
        F.expr(f"CAST({db_sum} AS BIGINT)").alias("deaths_b"),
        F.expr(f"CAST({diff_sum} AS BIGINT)").alias("o_minus_e_micro"),
        F.expr(f"CAST({v_sum} AS BIGINT)").alias("var_micro"),
        F.expr(chi2).alias("chi2_micro"),
        F.lit(LOGRANK_CRIT_MICRO).cast("long").alias("crit_micro"),
        F.expr(
            f"({chi2}) > {LOGRANK_CRIT_MICRO}"
        ).alias("different"),
    )


def _sql_survival_logrank() -> str:
    H = KM_HORIZON_DAYS
    counters = ["CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ua",
                "CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS ub"]
    for b in range(H + 1):
        counters.append(
            f"CAST(SUM(CASE WHEN a AND death AND b = {b} THEN 1 ELSE 0"
            f" END) AS BIGINT) AS da{b}"
        )
        counters.append(
            f"CAST(SUM(CASE WHEN a AND b = {b} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS ra{b}"
        )
        counters.append(
            f"CAST(SUM(CASE WHEN NOT a AND death AND b = {b} THEN 1"
            f" ELSE 0 END) AS BIGINT) AS db{b}"
        )
        counters.append(
            f"CAST(SUM(CASE WHEN NOT a AND b = {b} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS rb{b}"
        )
    ctes = []
    prev = "wide"
    for b, ex in enumerate(_lr_chain_exprs("HUGEINT", "//")):
        ctes.append(
            f"x{b} AS (SELECT *, {ex['na']} AS na{b}, {ex['nb']} AS nb{b}"
            f" FROM {prev}),\n"
            f"y{b} AS (SELECT *, {ex['e']} AS e{b} FROM x{b}),\n"
            f"z{b} AS (SELECT *, {ex['diff']} AS diff{b},"
            f" {ex['v1']} AS v1_{b} FROM y{b}),\n"
            f"w{b} AS (SELECT *, {ex['v']} AS v{b} FROM z{b})"
        )
        prev = f"w{b}"
    diff_sum = " + ".join(f"diff{b}" for b in range(H + 1))
    v_sum = " + ".join(f"v{b}" for b in range(H + 1))
    da_sum = " + ".join(f"da{b}" for b in range(H + 1))
    db_sum = " + ".join(f"db{b}" for b in range(H + 1))
    chi2 = (
        f"CASE WHEN ({v_sum}) = 0 THEN NULL"
        f" ELSE CAST((2 * (CAST({diff_sum} AS HUGEINT)"
        f" * CAST({diff_sum} AS HUGEINT)) + ({v_sum}))"
        f" // (2 * CAST({v_sum} AS HUGEINT)) AS BIGINT) END"
    )
    counters_sql = ",\n         ".join(counters)
    ctes_sql = ",\n".join(ctes)
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
  FROM events
),
uu AS (
  SELECT user_id, MIN(us) AS t0,
         MIN(CASE WHEN event_type = 'error' THEN us END) AS terr,
         MAX(us) AS tl
  FROM e GROUP BY user_id
),
per AS (
  SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS a,
         terr IS NOT NULL AND (terr - t0) // {_US_PER_DAY}
           <= {H - 1} AS death,
         CASE WHEN terr IS NOT NULL AND (terr - t0) // {_US_PER_DAY}
                   <= {H - 1}
              THEN (terr - t0) // {_US_PER_DAY}
              ELSE LEAST((tl - t0) // {_US_PER_DAY},
                         CAST({H} AS BIGINT)) END AS b
  FROM uu
),
wide AS (
  SELECT {counters_sql}
  FROM per
),
{ctes_sql}
SELECT ua AS n_users_a, ub AS n_users_b,
       CAST({da_sum} AS BIGINT) AS deaths_a,
       CAST({db_sum} AS BIGINT) AS deaths_b,
       CAST({diff_sum} AS BIGINT) AS o_minus_e_micro,
       CAST({v_sum} AS BIGINT) AS var_micro,
       {chi2} AS chi2_micro,
       CAST({LOGRANK_CRIT_MICRO} AS BIGINT) AS crit_micro,
       ({chi2}) > {LOGRANK_CRIT_MICRO} AS different
FROM {prev}
"""


SQL_SURVIVAL_LOGRANK = _sql_survival_logrank()


# --------------------------------------------------------------------
# metric_winsorized
# --------------------------------------------------------------------


def q_metric_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean order price per status — the capped metric
    every experimentation platform ships next to the raw mean: a
    heavy-tailed metric's mean is dominated by its extreme orders,
    so the standard practice is to CLAMP values to the [p5, p95]
    band before averaging (winsorization — not trimming: the rows
    stay, their values saturate). The lane reports the exact type-1
    p5/p95 bounds, the raw mean, and the winsorized mean so the
    tail's leverage is readable as the raw-vs-winsorized gap.

    Exactness: the bounds are TYPE-1 quantiles — the smallest cents
    whose cumulative count reaches ceil(p·n), picked never
    interpolated — and both means are ONE pinned half-up integer
    division each on exact decimal/HUGEINT cent sums. Everything
    else is integer compares and clamps.

    Scale shape — the ``bootstrap_ci_quantile`` histogram idea, used
    twice: cents live in a bounded domain, so the per-(status,
    cents) HISTOGRAM is map-side combinable and BOTH passes (the
    quantile location and the clamped re-aggregation) run over the
    histogram, never re-reading rows. The bounds frame is
    |statuses| rows, broadcast back onto the histogram. Shuffle
    volume is |distinct cents| once, regardless of row count.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    dec = "decimal(38,0)"
    h = o.groupBy("status", "cents").agg(
        F.count("*").cast("long").alias("wc")
    )
    cum = Window.partitionBy("status").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("status")
    hh = h.withColumn("cn", F.sum("wc").over(cum)).withColumn(
        "n", F.sum("wc").over(tot)
    )
    bounds = (
        hh.groupBy("status", "n")
        .agg(
            F.min(
                F.when(
                    F.expr("cn >= (5 * n + 99) div 100"), F.col("cents")
                )
            ).alias("p05_cents"),
            F.min(
                F.when(
                    F.expr("cn >= (95 * n + 99) div 100"), F.col("cents")
                )
            ).alias("p95_cents"),
        )
        .withColumnRenamed("n", "n_orders")
    )
    joined = h.join(F.broadcast(bounds), "status")
    clamped = F.expr(
        "CASE WHEN cents < p05_cents THEN p05_cents"
        " WHEN cents > p95_cents THEN p95_cents ELSE cents END"
    )
    g = joined.groupBy(
        "status", "n_orders", "p05_cents", "p95_cents"
    ).agg(
        F.sum(F.col("wc").cast(dec) * F.col("cents")).cast(dec).alias("s"),
        F.sum(F.col("wc").cast(dec) * clamped).cast(dec).alias("sw"),
    )
    return g.select(
        "status",
        "n_orders",
        "p05_cents",
        "p95_cents",
        F.expr(
            MICRO_MEAN_EXPR.format(n="n_orders", s="s", big=dec, div="div")
        ).alias("mean_micro"),
        F.expr(
            MICRO_MEAN_EXPR.format(n="n_orders", s="sw", big=dec,
                                   div="div")
        ).alias("winsorized_mean_micro"),
    )


def _sql_metric_winsorized() -> str:
    mean_raw = MICRO_MEAN_EXPR.format(
        n="n_orders", s="s", big="HUGEINT", div="//"
    )
    mean_w = MICRO_MEAN_EXPR.format(
        n="n_orders", s="sw", big="HUGEINT", div="//"
    )
    return f"""
WITH o AS (
  SELECT o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
h AS (
  SELECT status, cents, CAST(COUNT(*) AS BIGINT) AS wc
  FROM o GROUP BY status, cents
),
hh AS (
  SELECT status, cents, wc,
         SUM(wc) OVER (PARTITION BY status ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cn,
         SUM(wc) OVER (PARTITION BY status) AS n
  FROM h
),
bounds AS (
  SELECT status, CAST(n AS BIGINT) AS n_orders,
         MIN(CASE WHEN cn >= (5 * n + 99) // 100 THEN cents END)
           AS p05_cents,
         MIN(CASE WHEN cn >= (95 * n + 99) // 100 THEN cents END)
           AS p95_cents
  FROM hh GROUP BY status, n
),
g AS (
  SELECT h.status, n_orders, p05_cents, p95_cents,
         SUM(CAST(wc AS HUGEINT) * cents) AS s,
         SUM(CAST(wc AS HUGEINT)
             * (CASE WHEN cents < p05_cents THEN p05_cents
                     WHEN cents > p95_cents THEN p95_cents
                     ELSE cents END)) AS sw
  FROM h JOIN bounds ON h.status = bounds.status
  GROUP BY h.status, n_orders, p05_cents, p95_cents
)
SELECT status, n_orders, p05_cents, p95_cents,
       {mean_raw} AS mean_micro,
       {mean_w} AS winsorized_mean_micro
FROM g
"""


SQL_METRIC_WINSORIZED = _sql_metric_winsorized()


# --------------------------------------------------------------------
# bootstrap_ci_winsorized
# --------------------------------------------------------------------


def q_bootstrap_ci_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for the WINSORIZED mean order price per
    status — ``metric_winsorized``'s point estimate with its
    uncertainty attached: the whole reason platforms cap metrics is
    that the raw mean's variance is tail-dominated, and the capped
    metric's CI is what decisions actually read. Production
    convention (documented choice): the p5/p95 clamp bounds are
    estimated ONCE from the full sample and held FIXED across
    replicates — re-estimating quantiles inside every replicate
    answers a different (rarely wanted) question and costs a
    per-replicate quantile pass; with fixed bounds the replicate
    statistic is a plain weighted mean of the clamped values, so the
    bootstrap collapses back to the (group, b) counter monoid.

    Machinery: the exact type-1 p5/p95 bounds come off the bounded
    per-(status, cents) histogram (``metric_winsorized``'s pass),
    broadcast onto the order scan; the ``v:``-salted md5 CDF-ladder
    weights (independent of every other bootstrap lane) weight the
    CLAMPED cents; per-(status, b) Σw, Σw·clamped run
    decimal/HUGEINT; each replicate mean is the pinned half-up
    integer micro division; bounds are type-1 rank-selected. The
    plain winsorized mean is reported alongside (a pytest asserts
    the CI brackets it and matches ``metric_winsorized`` exactly).

    Scale shape: the histogram pass (shuffle bounded by the price
    domain), one broadcast ×B explode, ONE combinable (status, b)
    aggregate — shuffle volume |statuses|·B — and the bounded rank
    window. The only data-sized work is the scan itself.
    """

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    dec = "decimal(38,0)"
    # exact type-1 p5/p95 bounds + plain winsorized mean, all over
    # the bounded per-(status, cents) histogram
    h = o.groupBy("status", "cents").agg(
        F.count("*").cast("long").alias("wc")
    )
    cum = Window.partitionBy("status").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("status")
    hh = h.withColumn("cn", F.sum("wc").over(cum)).withColumn(
        "n", F.sum("wc").over(tot)
    )
    bounds = (
        hh.groupBy("status", "n")
        .agg(
            F.min(
                F.when(
                    F.expr("cn >= (5 * n + 99) div 100"), F.col("cents")
                )
            ).alias("p05_cents"),
            F.min(
                F.when(
                    F.expr("cn >= (95 * n + 99) div 100"), F.col("cents")
                )
            ).alias("p95_cents"),
        )
        .withColumnRenamed("n", "n_orders")
    )
    clamped = (
        "CASE WHEN cents < p05_cents THEN p05_cents"
        " WHEN cents > p95_cents THEN p95_cents ELSE cents END"
    )
    plain = (
        h.join(F.broadcast(bounds), "status")
        .groupBy("status", "n_orders", "p05_cents", "p95_cents")
        .agg(
            F.sum(F.col("wc").cast(dec) * F.expr(clamped)).cast(dec)
            .alias("swc")
        )
        .select(
            "status",
            "n_orders",
            "p05_cents",
            "p95_cents",
            F.expr(
                MICRO_MEAN_EXPR.format(
                    n="n_orders", s="swc", big=dec, div="div"
                )
            ).alias("winsorized_mean_micro"),
        )
    )
    reps = boot_replicates(spark)
    rows = (
        o.join(F.broadcast(bounds.select("status", "p05_cents",
                                         "p95_cents")), "status")
        .withColumn("cc", F.expr(clamped))
        .crossJoin(F.broadcast(reps))
        .withColumn(
            "u",
            F.expr(
                "substring(md5(concat('v:', CAST(o_orderkey AS STRING),"
                " ':', CAST(b AS STRING))), 1, 8)"
            ),
        )
        .withColumn("w", F.expr(_pois_w_expr("u")).cast("long"))
    )
    g = rows.groupBy("status", "b").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w").cast(dec) * F.col("cc")).cast(dec).alias("swc"),
    )
    g = g.withColumn(
        "mean_micro", F.expr(_BOOT_MEAN_EXPR.format(big=dec, div="div"))
    ).where(F.col("mean_micro").isNotNull())
    ci = boot_ci(g, "status", "mean_micro")
    return ci.join(F.broadcast(plain), "status").select(
        "status",
        "n_orders",
        "p05_cents",
        "p95_cents",
        "winsorized_mean_micro",
        "n_replicates",
        "ci_lo_micro",
        "ci_hi_micro",
    )


def _sql_bootstrap_ci_winsorized() -> str:
    mean_rep = _BOOT_MEAN_EXPR.format(big="HUGEINT", div="//")
    mean_plain = MICRO_MEAN_EXPR.format(
        n="n_orders", s="swc", big="HUGEINT", div="//"
    )
    return f"""
WITH reps AS (SELECT * FROM (VALUES {BOOT_VALUES}) AS t(b)),
o AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
h AS (
  SELECT status, cents, CAST(COUNT(*) AS BIGINT) AS wc
  FROM o GROUP BY status, cents
),
hh AS (
  SELECT status, cents, wc,
         SUM(wc) OVER (PARTITION BY status ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cn,
         SUM(wc) OVER (PARTITION BY status) AS n
  FROM h
),
bounds AS (
  SELECT status, CAST(n AS BIGINT) AS n_orders,
         MIN(CASE WHEN cn >= (5 * n + 99) // 100 THEN cents END)
           AS p05_cents,
         MIN(CASE WHEN cn >= (95 * n + 99) // 100 THEN cents END)
           AS p95_cents
  FROM hh GROUP BY status, n
),
plain AS (
  SELECT h.status, n_orders, p05_cents, p95_cents,
         SUM(CAST(wc AS HUGEINT)
             * (CASE WHEN cents < p05_cents THEN p05_cents
                     WHEN cents > p95_cents THEN p95_cents
                     ELSE cents END)) AS swc
  FROM h JOIN bounds ON h.status = bounds.status
  GROUP BY h.status, n_orders, p05_cents, p95_cents
),
p2 AS (
  SELECT status, n_orders, p05_cents, p95_cents,
         {mean_plain} AS winsorized_mean_micro
  FROM plain
),
rows_w AS (
  SELECT o.status, b,
         (CASE WHEN cents < p05_cents THEN p05_cents
               WHEN cents > p95_cents THEN p95_cents
               ELSE cents END) AS cc,
         {_pois_w_expr(
             "substr(md5('v:' || CAST(o_orderkey AS VARCHAR) || ':' ||"
             " CAST(b AS VARCHAR)), 1, 8)"
         )} AS w
  FROM o
  JOIN bounds ON o.status = bounds.status
  CROSS JOIN reps
),
g AS (
  SELECT status, b,
         CAST(SUM(w) AS BIGINT) AS sw,
         SUM(CAST(w AS HUGEINT) * cc) AS swc
  FROM rows_w GROUP BY status, b
),
m AS (
  SELECT status, b, {mean_rep} AS mean_micro FROM g
),
r AS (
  SELECT status, b, mean_micro,
         row_number() OVER (PARTITION BY status
                            ORDER BY mean_micro, b) AS rn,
         COUNT(*) OVER (PARTITION BY status) AS nrep
  FROM m WHERE mean_micro IS NOT NULL
),
ci AS (
  SELECT status,
         CAST(COUNT(*) AS BIGINT) AS n_replicates,
         {sql_boot_ci("mean_micro")}
  FROM r GROUP BY status
)
SELECT ci.status, n_orders, p05_cents, p95_cents,
       winsorized_mean_micro, n_replicates, ci_lo_micro, ci_hi_micro
FROM ci JOIN p2 ON ci.status = p2.status
"""


SQL_BOOTSTRAP_CI_WINSORIZED = _sql_bootstrap_ci_winsorized()

# --------------------------------------------------------------------
# quantile_weighted
# --------------------------------------------------------------------

# Same bounded price-bucket quantization as drift_ks / rank_mannwhitney.
QW_PRICE_BUCKET = 10_000.0
QW_PERCENTS = (25, 50, 90)


def q_quantile_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted type-1 quantiles of order price, weighted by the
    order's line-item count: for each p in ``QW_PERCENTS``, the
    smallest price v such that the summed weight of orders priced
    ≤ v reaches p% of total weight — "the price under which a
    weighted p% of line items sit". The weighted generalization of
    ``quantile_select`` (whose targets are plain ranks = weight 1).

    Exactness: weights are exact int64 counts; the crossing value is
    selected by the integer cross-multiplied pair
    ``100·cumw ≥ p·W AND 100·(cumw − w_v) < p·W`` — each p matches
    EXACTLY one per-value row, no division anywhere, and the cutoff
    price passes through un-arithmetic'd (bitwise on both engines).

    Scale shape: the per-order weight is one combinable lineitem
    groupBy joined shuffle_hash (both sides corpus-proportional);
    per-value weights are a second combinable groupBy; the running
    weight is the drift_ks two-phase decomposition (in-bucket windows
    + a broadcast-pinned domain-bounded carry); the 3-row target
    table broadcasts. The oracle computes the running weight with one
    plain SQL window, so the decomposition is hash-checked.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("p")
    )
    li = load_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count("*").alias("w")
    )
    base = orders.join(
        li.hint("shuffle_hash"),
        orders["o_orderkey"] == li["l_orderkey"],
    ).select("p", "w")
    pv = base.groupBy("p").agg(F.sum("w").alias("wv")).withColumn(
        "bucket", F.floor(F.col("p") / QW_PRICE_BUCKET)
    )

    carry = bucket_carry_totals(
        pv.groupBy("bucket").agg(F.sum("wv").alias("bw")),
        "bucket",
        carry_cols=["bw"],
        total_cols=["bw"],
    ).select(
        "bucket",
        F.col("carry_bw").alias("below"),
        F.col("tot_bw").alias("w_total"),
    )
    win = (
        Window.partitionBy("bucket")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        pv.withColumn("r", F.sum("wv").over(win))
        .join(F.broadcast(carry), "bucket")
        .select(
            "p",
            "wv",
            "w_total",
            (F.col("below") + F.col("r")).alias("cumw"),
        )
    )
    plit = ", ".join(f"({p})" for p in QW_PERCENTS)
    targets = spark.sql(f"SELECT * FROM VALUES {plit} AS t(pct)")
    sel = cum.join(
        F.broadcast(targets),
        (100 * F.col("cumw") >= F.col("pct") * F.col("w_total"))
        & (
            100 * (F.col("cumw") - F.col("wv"))
            < F.col("pct") * F.col("w_total")
        ),
    )
    return sel.select(
        "pct",
        "w_total",
        F.col("p").alias("cutoff_price"),
        F.col("cumw").alias("cumw_at_cutoff"),
    )


SQL_QUANTILE_WEIGHTED = f"""
WITH w AS (
  SELECT l_orderkey, COUNT(*) AS w FROM lineitem GROUP BY l_orderkey
),
base AS (
  SELECT o_totalprice AS p, w
  FROM orders JOIN w ON o_orderkey = l_orderkey
),
pv AS (
  SELECT p, CAST(SUM(w) AS BIGINT) AS wv FROM base GROUP BY p
),
c AS (
  SELECT p, wv,
         CAST(SUM(wv) OVER (ORDER BY p) AS BIGINT) AS cumw,
         CAST(SUM(wv) OVER () AS BIGINT) AS w_total
  FROM pv
),
t AS (SELECT * FROM (VALUES {", ".join(f"({p})" for p in QW_PERCENTS)}) AS t(pct))
SELECT pct, w_total, p AS cutoff_price, cumw AS cumw_at_cutoff
FROM c JOIN t
  ON 100 * cumw >= pct * w_total
 AND 100 * (cumw - wv) < pct * w_total
"""


# --------------------------------------------------------------------
# gini_concentration
# --------------------------------------------------------------------

# G = Δ / (2·n·S) with Δ = Σ_i Σ_j |x_i − x_j| (both orders), from the
# per-value identity Δ = 2·Σ_v c_v·(v·N<(v) − S<(v)). All-int until
# the one micro division; an all-zero group (S = 0) has no defined
# concentration → NULL (the 0/0 standard), while a single-doc group is
# a true G = 0.
_GINI_EXPR = (
    "CASE WHEN n_docs = 0 OR total_chars = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * delta)"
    " / (CAST(2 AS DOUBLE) * n_docs * total_chars), 0) AS BIGINT) END"
)
_GAP_EXPR = (
    "CASE WHEN n_docs = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * delta)"
    " / (CAST(n_docs AS DOUBLE) * n_docs), 0) AS BIGINT) END"
)


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document length — the corpus
    CONCENTRATION audit: G → 0 when every doc contributes equal char
    mass, G → 1 when a few giants dominate. Read next to
    ``mix_weights`` (which balances ACROSS sources) to catch the
    within-source imbalance that source-level sampling can't see;
    ``mean_gap_micro`` (Δ/n², the mean absolute pairwise difference
    in chars) is the unnormalized companion.

    Exactness: the mean-difference identity
    Δ = 2·Σ_v c_v·(v·N₍<v₎ − S₍<v₎) turns the O(n²) pairwise sum into
    per-value prefix sums — exact integers end-to-end (DECIMAL/
    HUGEINT accumulators), then the two pinned micro divisions.

    Scale shape: one combinable (source, n_chars) aggregate; the
    prefix sums ride windows over the per-VALUE frame, which is
    DOMAIN-bounded (distinct document lengths, ≤ the length cap a
    real corpus enforces — ~200 distinct values here), so the window
    stage is constant-size per source at any corpus scale; the final
    per-source reduction is one bounded combinable aggregate. No
    joins, no broadcast.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("v")
    )
    pv = docs.groupBy("source", "v").agg(
        F.count("*").alias("c"),
        F.sum("v").alias("s"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # v·N₍<v₎ runs decimal-first (the HUGEINT-parity rule — the inner
    # int64 product was the round-10 review's overflow-asymmetry class)
    terms = pv.select(
        "source",
        "c",
        "s",
        (
            (2 * F.col("c")).cast("decimal(38,0)")
            * (
                F.col("v").cast("decimal(38,0)")
                * F.coalesce(F.sum("c").over(w), F.lit(0))
                - F.coalesce(F.sum("s").over(w), F.lit(0))
            )
        ).cast("decimal(38,0)").alias("term"),
    )
    g = terms.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.sum("s").alias("total_chars"),
        F.sum("term").cast("decimal(38,0)").alias("delta_dec"),
    ).withColumn("delta", F.col("delta_dec").cast("long"))
    return g.select(
        "source",
        "n_docs",
        "total_chars",
        "delta",
        F.expr(_GINI_EXPR).alias("gini_micro"),
        F.expr(_GAP_EXPR).alias("mean_gap_micro"),
    )


SQL_GINI_CONCENTRATION = f"""
WITH pv AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v,
         COUNT(*) AS c, CAST(SUM(n_chars) AS BIGINT) AS s
  FROM documents GROUP BY source, n_chars
),
pre AS (
  SELECT source, c, s,
         COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS nb,
         COALESCE(SUM(s) OVER (PARTITION BY source ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS sb,
         v
  FROM pv
),
g AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(SUM(s) AS BIGINT) AS total_chars,
         CAST(SUM(CAST(2 * c AS HUGEINT)
                  * (CAST(v AS HUGEINT) * nb - sb)) AS BIGINT)
           AS delta
  FROM pre GROUP BY source
)
SELECT source, n_docs, total_chars, delta,
       {_GINI_EXPR} AS gini_micro,
       {_GAP_EXPR} AS mean_gap_micro
FROM g
"""


QUERIES: list[Query] = [
    Query(
        "corr_pearson",
        q_corr_pearson,
        SQL_CORR_PEARSON,
        ("relational", "analytics", "statistics"),
    ),
    Query(
        "ab_test_metrics",
        q_ab_test_metrics,
        SQL_AB_TEST_METRICS,
        ("relational", "analytics", "experimentation"),
    ),
    Query(
        "perm_test_diff",
        q_perm_test_diff,
        SQL_PERM_TEST_DIFF,
        ("relational", "statistics", "evaluation", "sampling"),
    ),
    Query(
        "bootstrap_ci_diff",
        q_bootstrap_ci_diff,
        SQL_BOOTSTRAP_CI_DIFF,
        ("relational", "statistics", "sampling", "evaluation"),
    ),
    Query(
        "perm_test_ratio",
        q_perm_test_ratio,
        SQL_PERM_TEST_RATIO,
        ("relational", "statistics", "evaluation", "sampling"),
    ),
    Query(
        "srm_check",
        q_srm_check,
        SQL_SRM_CHECK,
        ("relational", "statistics", "quality", "monitoring"),
    ),
    Query(
        "chi2_contingency",
        q_chi2_contingency,
        SQL_CHI2_CONTINGENCY,
        ("relational", "analytics", "statistics"),
    ),
    Query(
        "metric_cuped",
        q_metric_cuped,
        SQL_METRIC_CUPED,
        ("relational", "statistics", "evaluation", "pipeline"),
    ),
    Query(
        "metric_did",
        q_metric_did,
        SQL_METRIC_DID,
        ("relational", "statistics", "evaluation", "pipeline"),
    ),
    Query(
        "fdr_bh",
        q_fdr_bh,
        SQL_FDR_BH,
        ("relational", "statistics", "evaluation", "quality"),
    ),
    Query(
        "fdr_holm",
        q_fdr_holm,
        SQL_FDR_HOLM,
        ("relational", "statistics", "evaluation", "quality"),
    ),
    Query(
        "chisq_independence",
        q_chisq_independence,
        SQL_CHISQ_INDEPENDENCE,
        ("relational", "statistics", "quality", "evaluation"),
    ),
    Query(
        "power_mde",
        q_power_mde,
        SQL_POWER_MDE,
        ("relational", "statistics", "evaluation", "pipeline"),
    ),
    Query(
        "sample_size_calc",
        q_sample_size_calc,
        SQL_SAMPLE_SIZE_CALC,
        ("relational", "statistics", "evaluation", "pipeline"),
    ),
    Query(
        "quantile_select",
        q_quantile_select,
        _sql_quantile_select(),
        ("relational", "statistics", "approx", "topk"),
        bench=True,  # distributed selection + sketch lane, timed
    ),
    Query(
        "corr_spearman",
        q_corr_spearman,
        SQL_CORR_SPEARMAN,
        ("relational", "statistics", "window"),
    ),
    Query(
        "trend_linfit",
        q_trend_linfit,
        SQL_TREND_LINFIT,
        ("relational", "statistics", "timeseries", "monitoring"),
    ),
    Query(
        "anova_oneway",
        q_anova_oneway,
        SQL_ANOVA_ONEWAY,
        ("relational", "statistics", "analytics"),
    ),
    Query(
        "rank_mannwhitney",
        q_rank_mannwhitney,
        SQL_RANK_MANNWHITNEY,
        ("relational", "statistics", "evaluation"),
    ),
    Query(
        "rank_test_u",
        q_rank_test_u,
        SQL_RANK_TEST_U,
        ("relational", "statistics", "evaluation", "sampling"),
    ),
    Query(
        "survival_km",
        q_survival_km,
        SQL_SURVIVAL_KM,
        ("relational", "statistics", "timeseries", "evaluation"),
    ),
    Query(
        "survival_logrank",
        q_survival_logrank,
        SQL_SURVIVAL_LOGRANK,
        ("relational", "statistics", "timeseries", "evaluation"),
    ),
    Query(
        "metric_winsorized",
        q_metric_winsorized,
        SQL_METRIC_WINSORIZED,
        ("relational", "statistics", "agg", "quality"),
    ),
    Query(
        "bootstrap_ci_winsorized",
        q_bootstrap_ci_winsorized,
        SQL_BOOTSTRAP_CI_WINSORIZED,
        ("relational", "statistics", "sampling", "quality"),
    ),
    Query(
        "quantile_weighted",
        q_quantile_weighted,
        SQL_QUANTILE_WEIGHTED,
        ("relational", "statistics", "sampling", "pipeline"),
    ),
    Query(
        "gini_concentration",
        q_gini_concentration,
        SQL_GINI_CONCENTRATION,
        ("llm", "statistics", "quality", "monitoring"),
    ),
]
