"""Deterministic numeric aggregation helpers.

Problem: ``SUM(double)`` is order-dependent in its low bits, and Spark's
partial/final aggregation order differs run-to-run and engine-to-engine,
so a raw double sum can never hash-match a DuckDB oracle bitwise.

Pattern: cast the (double) expression to a fixed-scale decimal *before*
aggregating. Decimal addition is exact and associative, so the sum is
identical regardless of partial-aggregation order or engine; a final
``round(…, k)::double`` yields a bitwise-stable double on both sides.

Why the double→decimal cast itself is safe: decimal midpoints at scale
``s > 0`` (…5×10⁻ˢ⁻¹) have no finite binary representation, so a double
is never exactly on a rounding boundary — HALF_UP (Spark) and DuckDB's
rounding agree on every representable input.

This costs decimal (non-codegen-friendly) arithmetic in the aggregate.
At the 100 TB design point you would keep raw-double sums for speed and
tolerate last-bit drift; the decimal path exists for oracle-grade
reproducibility and is still map-side-combinable (partial sums are
decimals), so the shuffle volume is identical.

The SQL mirror for ``dsum(c, alias, 2)`` is::

    CAST(ROUND(SUM(CAST(c AS DECIMAL(18, 8))), 2) AS DOUBLE) AS alias
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# precision 18 keeps the per-value decimal long-backed (measurably
# faster than decimal(28,8)); SUM's accumulator gets +10 digits of
# headroom (decimal(28,8) ≈ 10^20) — ample past 10^13 rows of 10^5-
# magnitude values. Scale stays 8: rounding the sum to 2 decimals can
# only tie on an exact ...500000 tail (p ≈ 1e-6 per aggregate); scale 4
# made that p ≈ 1e-4 and was observed to diverge from DuckDB's tie rule.
ACC = "decimal(18,8)"


def dsum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent sum of a double expression; see module docstring."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(ACC)), scale).cast("double").alias(alias)


def davg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-independent mean in FIXED POINT: exact decimal sum,
    scaled to integer 1e-8 units, divided half-away-from-zero by the
    count in exact integer arithmetic, projected to double once.

    Why not ``round(sum/count, s)`` (the original): a mean of a
    QUANTIZED sum lands exactly on an s-dp rounding midpoint whenever
    the count divides the scaled sum suitably (k ≡ 50m mod 100m for
    s = 6) — ~1/(100·count) per group, a real per-fixture-reroll
    red-row risk; the sf0.1 sweep caught this exact class in
    lm_unigram_score (SCALE.md §34 postscript). Integer division has
    no midpoints.

    Mechanics: half-up division round(p/q) = (2p+q) // (2q) on the
    ABSOLUTE value, re-signed afterwards (away-from-zero, matching
    both engines' ROUND). The integral division is
    ``round((n - pmod(n, d)) / d)``: pmod makes the numerator exactly
    divisible, and the double division of that pair errs by
    ≤ quotient·1e-16 ≪ 0.5, so the final round snaps to the exact
    quotient (int64 magnitudes exceed double's 2^53 exact range, so a
    bare truncating cast could land one low).

    Range: |sum|·1e8 must fit int64 ⇒ |sum| < 9.2e10 per group —
    ample at bench scales; a 128-bit (decimal-backed) lane is the
    documented step beyond. SQL mirror: :func:`davg_sql`.
    """
    c = F.col(col) if isinstance(col, str) else col
    s_int = (F.sum(c.cast(ACC)) * 100_000_000).cast("long")
    q = F.count(c) * (10 ** (8 - scale))
    return fp_ratio(s_int, q, scale).alias(alias)


def fp_ratio(num: Column, den: Column, scale: int = 6) -> Column:
    """Midpoint-free quotient of two int64 columns, quantized at
    ``scale`` dp: half-away-from-zero integer division, one
    int→double projection. ``num`` may be signed; ``den`` must be
    positive. This is the shared primitive behind davg, the
    time-weighted mean, and every ratio whose operands passed through
    a decimal→double cast (SCALE.md §34 mechanism note). The pmod
    trick keeps the division exact past double's 2^53 integer range.
    """
    n2 = 2 * F.abs(num) + den
    d2 = 2 * den
    units_abs = F.round((n2 - F.pmod(n2, d2)) / d2, 0).cast("long")
    units = F.when(num < 0, -units_abs).otherwise(units_abs)
    return units.cast("double") / float(10**scale)


def davg_sql(col: str, alias: str, scale: int = 6) -> str:
    """The DuckDB mirror of :func:`davg` — generated here so every
    oracle string shares one source of truth for the fixed-point mean
    (DuckDB's ``//`` floors, but the operands are non-negative, where
    floor = truncate = half-up after the +q offset)."""
    unit = 10 ** (8 - scale)
    ssum = f"SUM(CAST({col} AS DECIMAL(18,8)))"
    return (
        f"CAST((CASE WHEN {ssum} < 0 THEN -1 ELSE 1 END) * "
        f"((2 * abs(CAST({ssum} * 100000000 AS BIGINT)) "
        f"+ COUNT({col}) * {unit}) "
        f"// (2 * COUNT({col}) * {unit})) AS DOUBLE) / {float(10**scale)} "
        f"AS {alias}"
    )


# ---------------------------------------------------------------------------
# Exact sufficient-statistics scaffolding (shared by the correlation /
# trend / ANOVA / Gini lanes — one source of truth for the pinned
# op-sequences the oracles mirror with HUGEINT)

_DEC38 = "CAST({} AS DECIMAL(38,0))"

# Mean in micro-units of an exact cents sum ``s`` over a count ``n``:
# the midpoint-free half-up integer division (2·10⁴·s + n) div (2·n)
# on decimal(38,0) (Spark, ``div``) or HUGEINT (DuckDB, ``//``)
# operands, so it never leaves exact integer arithmetic; NULL when
# n = 0.
MICRO_MEAN_EXPR = (
    "CASE WHEN {n} = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(10000 AS {big}) * CAST({s} AS {big}) + {n})"
    " {div} (2 * CAST({n} AS {big})) AS BIGINT) END"
)


def exact_product_sum(a: Column, b: Column) -> Column:
    """SUM(a·b) with the FIRST operand promoted to DECIMAL(38,0)
    BEFORE the multiply — the HUGEINT-parity rule: DuckDB oracles
    write ``SUM(CAST(a AS HUGEINT) * b)``, so the Spark side must
    never run the product in int64 first (a silent wrap under
    non-ANSI Spark where DuckDB stays exact — the overflow-asymmetry
    class the round-10 code review flagged)."""
    return F.sum(a.cast("decimal(38,0)") * b)


def suffstat_agg(x: Column, y: Column) -> list[Column]:
    """The six exact statistics every sufficient-statistics lane
    aggregates (n, Σx, Σy int64; Σxy, Σx², Σy² decimal-exact), under
    the fixed aliases the combination expressions reference."""
    return [
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        exact_product_sum(x, y).alias("sxy"),
        exact_product_sum(x, x).alias("sxx"),
        exact_product_sum(y, y).alias("syy"),
    ]


def suffstat_terms() -> tuple[Column, Column, Column, Column]:
    """The :func:`suffstat_agg` combination terms as doubles, each exact
    integer term (decimal-first) cast to double ONCE: (nΣxy − ΣxΣy,
    nΣx² − (Σx)², nΣy² − (Σy)², ΣyΣx² − ΣxΣxy)."""
    d = _DEC38.format
    return (
        F.expr(f"CAST({d('n')} * sxy - {d('sx')} * {d('sy')} AS DOUBLE)"),
        F.expr(f"CAST({d('n')} * sxx - {d('sx')} * {d('sx')} AS DOUBLE)"),
        F.expr(f"CAST({d('n')} * syy - {d('sy')} * {d('sy')} AS DOUBLE)"),
        F.expr(f"CAST({d('sy')} * sxx - {d('sx')} * sxy AS DOUBLE)"),
    )


# The DuckDB forms of the same integer terms (HUGEINT-first).
SXY_SQL = "n * sxy - CAST(sx AS HUGEINT) * sy"
SXX_SQL = "n * sxx - CAST(sx AS HUGEINT) * sx"
SYY_SQL = "n * syy - CAST(sy AS HUGEINT) * sy"
ICEPT_SQL = "CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy"


def corr_micro_from_stats() -> Column:
    """Pearson correlation in micros from the :func:`suffstat_agg`
    frame: the three integer combination terms are each cast to
    double ONCE, then one pinned multiply/sqrt/divide/round sequence
    — identical bits on both engines. Zero variance on either side →
    NULL (the ADVICE r7 standard). Shared by ``corr_pearson`` (raw
    values) and ``corr_spearman`` (double-ranks)."""
    num, var_x, var_y, _ = suffstat_terms()
    return F.when(
        (var_x == 0) | (var_y == 0), F.lit(None).cast("long")
    ).otherwise(
        F.round(num / F.sqrt(var_x * var_y) * 1_000_000, 0).cast("long")
    )


def corr_micro_sql() -> str:
    """The DuckDB rendering of :func:`corr_micro_from_stats` over a
    frame with the :func:`suffstat_agg` aliases."""
    return (
        f"CASE WHEN {SXX_SQL} = 0 OR {SYY_SQL} = 0 THEN NULL"
        f" ELSE CAST(ROUND(CAST({SXY_SQL} AS DOUBLE)"
        f" / sqrt(CAST({SXX_SQL} AS DOUBLE) * CAST({SYY_SQL} AS DOUBLE))"
        " * 1000000, 0) AS BIGINT) END"
    )


def ols_log_micro_cols(negate_slope: bool = False) -> tuple[Column, Column, Column]:
    """(slope_micro, intercept, r2_micro) from the :func:`suffstat_agg`
    frame for the log-log OLS lanes (``zipf_fit`` / ``heaps_fit`` —
    points are ALREADY micro-quantized log2 values): the slope is
    unitless → micro-scaled once; the intercept is in the y column's
    micro units → rounded with NO extra scaling; R² in micros.
    Zero x-variance → all NULL; zero y-variance additionally NULLs R²
    (the ADVICE r7 standard). ``negate_slope`` reports the Zipf
    exponent (the descending curve's negated slope). One definition,
    both lanes — the round-11 review flagged the copies as a drift
    surface (the same finding class as graph.py's ``_und_edges``).
    """
    num_s, den, var_y, num_i = suffstat_terms()
    null_l = F.lit(None).cast("long")
    sign = -1 if negate_slope else 1
    slope = F.when(den == 0, null_l).otherwise(
        F.round(sign * num_s / den * 1_000_000, 0).cast("long")
    )
    icept = F.when(den == 0, null_l).otherwise(
        F.round(num_i / den, 0).cast("long")
    )
    r2 = F.when((den == 0) | (var_y == 0), null_l).otherwise(
        F.round(num_s * num_s / (den * var_y) * 1_000_000, 0).cast("long")
    )
    return slope, icept, r2


def ols_log_micro_sql(
    slope_alias: str,
    icept_alias: str,
    r2_alias: str,
    negate_slope: bool = False,
) -> str:
    """The DuckDB rendering of :func:`ols_log_micro_cols` over a
    ``stats`` CTE with the :func:`suffstat_agg` aliases — three CASE
    expressions, comma-joined for a SELECT list."""
    num_s = f"CAST({SXY_SQL} AS DOUBLE)"
    den = f"CAST({SXX_SQL} AS DOUBLE)"
    den0 = f"{SXX_SQL} = 0"
    vy0 = f"{SYY_SQL} = 0"
    sign = "-" if negate_slope else ""
    return f"""
       CASE WHEN {den0} THEN NULL
            ELSE CAST(ROUND({sign}({num_s} / {den}) * 1000000, 0)
              AS BIGINT)
       END AS {slope_alias},
       CASE WHEN {den0} THEN NULL
            ELSE CAST(ROUND(
              CAST({ICEPT_SQL} AS DOUBLE) / {den}, 0) AS BIGINT)
       END AS {icept_alias},
       CASE WHEN {den0} OR {vy0} THEN NULL
            ELSE CAST(ROUND({num_s} * {num_s}
              / ({den} * CAST({SYY_SQL} AS DOUBLE))
              * 1000000, 0) AS BIGINT)
       END AS {r2_alias}"""
