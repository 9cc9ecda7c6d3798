"""Time-series operators: resampling and interpolation, RANGE-framed
rolling windows, rolling median/quantiles, smoothing (EWMA), change
points (CUSUM), autocorrelation, seasonal-naive forecasting, anomaly
flags, rate-spike alerts, interval merging, and event inter-arrival
and burstiness statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import dsum, exact_product_sum, fp_ratio
from ..plans.spec import Query
from ..sources.catalog import load_table


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: resample the event stream to an
    hourly grid per event type, materializing EMPTY buckets from a
    generated time spine, and forward-fill the last observed hourly
    sum across gaps — the gap-fill shape behind dashboards, feature
    windows, and any model that needs an observation per tick.

    Plan shape: the hourly aggregation is one groupBy over the scan;
    the spine is `sequence(min, max, 1 hour)` exploded from the tiny
    per-type bounds row (no driver-side range generation); the
    fill is `last(value, ignorenulls=True)` over an unbounded-
    preceding window per type — one extra shuffle on the already-
    bucket-sized frame, never on raw events. Buckets per key = time
    range / granularity regardless of event volume, so output and
    window state are bounded by the calendar, not the data.
    """

    e = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    hourly = e.groupBy(F.col("event_type"), bucket.alias("bucket")).agg(
        dsum(F.col("value"), "sum_value", 2),
        F.count("*").alias("n_events"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 hour"))
        ).alias("bucket"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return spine.join(hourly, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_ffill"),
    )


SQL_RESAMPLE_FFILL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))), 2) AS DOUBLE)
           AS sum_value,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
  FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
)
SELECT s.event_type, s.bucket,
       COALESCE(h.n_events, 0) AS n_events,
       LAST_VALUE(h.sum_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.bucket) AS sum_ffill
FROM spine s
LEFT JOIN hourly h ON s.event_type = h.event_type AND s.bucket = h.bucket
"""


# ---------------------------------------------------------------------------
# window_range_interval


def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour RANGE frame per user over the event stream:
    rolling event count and rolling sum(value).

    The frame is defined by the ORDER-BY *value* (epoch seconds), not
    row offsets — rows whose timestamps fall within [t-3600, t] are
    aggregated regardless of how many there are. ``WindowExec``
    maintains a sliding frame buffer per partition: each row enters and
    leaves the buffer exactly once, so the pass is O(rows) with state
    bounded by the densest hour, not the partition. One shuffle on
    user_id (hash-partitioned, ~|users| keys, no skew) and one
    in-partition sort — the minimum any time-windowed feature needs.

    Rows sharing an epoch second are RANGE-frame peers in both engines,
    and the rolling sum uses the exact decimal accumulator
    (functions/numeric.py), so results are bitwise cross-engine.
    """
    e = load_table(spark, sf_dir, "events")
    e = e.withColumn("epoch_s", F.unix_timestamp("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "epoch_s",
        "value",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum(F.col("value").cast("decimal(18,8)")).over(w), 2)
        .cast("double")
        .alias("sum_1h"),
    )


SQL_WINDOW_RANGE_INTERVAL = """
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       value,
       COUNT(*) OVER w AS n_1h,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))) OVER w, 2) AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# anomaly_zscore


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier flagging: the glitch filter a
    metrics pipeline runs before events feed features or dashboards.

    Moments come from EXACT INTEGER sums: each value quantizes to
    int64 cents through the decimal cast (and its square to cents²),
    the sums are exact, and every double that follows (mean, variance,
    sqrt, z) is IEEE arithmetic on identical integer inputs — so both
    engines compute bit-identical doubles with no decimal→double cast
    anywhere (the 1-ulp divergence class of SCALE.md §34's mechanism
    note; the original decimal-sum-cast-to-double formulation carried
    it). Plan: one map-side-combinable groupBy over the scan
    (|event_type| ≈ 6 rows out), then a broadcast join back — the raw
    event stream is scanned twice-logically but AQE broadcasts the
    6-row stats side, so no wide shuffle ever touches the events.
    """
    e = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,8)") * 100).cast("long")
    e = e.withColumn("_c", cents)
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("_c").alias("s1c"),
        F.sum(F.col("_c") * F.col("_c")).alias("s2c"),
    )
    mean = F.col("s1c").cast("double") / (F.col("n") * 100.0)
    ex2 = F.col("s2c").cast("double") / (F.col("n") * 10_000.0)
    stats = stats.select(
        "event_type",
        mean.alias("mean"),
        F.sqrt(ex2 - mean * mean).alias("std"),
    )
    z = F.round(
        (F.col("value") - F.col("mean")) / F.nullif(F.col("std"), F.lit(0.0)), 6
    )
    return e.drop("_c").join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.round("mean", 6).alias("mean_v"),
        F.round("std", 6).alias("std_v"),
        z.alias("z"),
        (F.abs(z) > 3.0).alias("is_anomaly"),
    )


SQL_ANOMALY_ZSCORE = """
WITH c AS (
  SELECT *, CAST(CAST(value AS DECIMAL(18,8)) * 100 AS BIGINT) AS _c
  FROM events
),
stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(_c) AS s1c,
         SUM(_c * _c) AS s2c
  FROM c GROUP BY event_type
),
m AS (
  SELECT event_type,
         CAST(s1c AS DOUBLE) / (n * 100.0) AS mean,
         sqrt(CAST(s2c AS DOUBLE) / (n * 10000.0)
              - (CAST(s1c AS DOUBLE) / (n * 100.0))
                * (CAST(s1c AS DOUBLE) / (n * 100.0))) AS std
  FROM stats
)
SELECT event_id, e.event_type, value,
       ROUND(mean, 6) AS mean_v,
       ROUND(std, 6)  AS std_v,
       ROUND((value - mean) / nullif(std, 0), 6) AS z,
       (abs(ROUND((value - mean) / nullif(std, 0), 6)) > 3.0) AS is_anomaly
FROM events e JOIN m USING (event_type)
"""

# ---------------------------------------------------------------------------
# time_weighted_avg


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of ``value`` across the user's
    event history: each observation holds until the next one (LOCF),
    so its weight is the segment duration in seconds; the final
    observation (no successor) carries no weight.

    Plan: one window pass (lead over the user partition — same single
    shuffle any per-user feature pays) and one map-side-combinable
    aggregation. Determinism: durations are integer seconds; each
    ``value × dur`` term is rounded to 6 dp (identical doubles both
    engines), quantized exactly through the decimal cast, and the
    MEAN runs in fixed point — integer-scaled sum, half-up integer
    division by the total duration — because a decimal→double cast
    before a rounded division is the midpoint class of SCALE.md §34's
    postscript. Equal-timestamp ties carry zero duration so tie order
    cannot matter.
    """
    e = load_table(spark, sf_dir, "events")
    e = e.select(
        "user_id", "event_id", "value", F.unix_timestamp("ts").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    seg = e.withColumn("dur", F.lead("sec").over(w) - F.col("sec")).where(
        F.col("dur").isNotNull()
    )
    term = F.round(F.col("value") * F.col("dur"), 6)
    agg = seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum("dur").alias("span_sec"),
        (F.sum(term.cast("decimal(28,8)")) * 100_000_000)
        .cast("long")
        .alias("s_int"),
    )
    # half-up integer division at 6 dp (davg's construction: pmod
    # makes the numerator exactly divisible, round snaps the double
    # quotient to the exact integer)
    q = F.col("span_sec") * 100
    num = 2 * F.abs(F.col("s_int")) + q
    den = 2 * q
    units_abs = F.round((num - F.pmod(num, den)) / den, 0).cast("long")
    units = F.when(F.col("s_int") < 0, -units_abs).otherwise(units_abs)
    return agg.select(
        "user_id",
        "n_segments",
        "span_sec",
        (units.cast("double") / 1e6).alias("twa_value"),
    )


SQL_TIME_WEIGHTED_AVG = """
WITH seg AS (
  SELECT user_id, value,
         lead(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
           - CAST(floor(epoch(ts)) AS BIGINT) AS dur
  FROM events
)
, agg AS (
  SELECT user_id,
         COUNT(*) AS n_segments,
         CAST(SUM(dur) AS BIGINT) AS span_sec,
         CAST(SUM(CAST(ROUND(value * dur, 6) AS DECIMAL(28,8))) * 100000000
              AS BIGINT) AS s_int
  FROM seg
  WHERE dur IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_segments, span_sec,
       CAST((CASE WHEN s_int < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(s_int) + span_sec * 100)
               // (2 * span_sec * 100)) AS DOUBLE) / 1000000.0 AS twa_value
FROM agg
"""


# ---------------------------------------------------------------------------
# period_growth


def q_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly order totals and the
    percentage change versus the previous month — the
    period-over-period shape behind every finance dashboard.

    Revenue is summed exactly (decimal accumulator → integer cents),
    and the growth ratio is the midpoint-free fixed-point quotient
    (``fp_ratio``: (cur − prev)·1e6 / prev, half-up integer division)
    because both operands pass through exact sums — the decimal→double
    divergence class of SCALE.md §34's mechanism note. The lag window
    runs on the ~months-sized aggregate frame, not on orders.
    """

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,8)")) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("month")  # months-sized frame: tiny by design
    prev = F.lag("cents").over(w)
    growth = fp_ratio((F.col("cents") - prev) * 1_000_000, prev, 6)
    return monthly.select(
        "month",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        F.when(prev.isNotNull(), growth).alias("mom_growth"),
    )


SQL_PERIOD_GROWTH = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,8))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
l AS (SELECT *, lag(cents) OVER (ORDER BY month) AS prev FROM m)
SELECT CAST(month AS TIMESTAMP) AS month,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CASE WHEN prev IS NULL THEN NULL
            ELSE CAST((CASE WHEN cents - prev < 0 THEN -1 ELSE 1 END)
                      * ((2 * abs((cents - prev) * 1000000) + prev)
                         // (2 * prev)) AS DOUBLE) / 1000000.0
       END AS mom_growth
FROM l
"""


def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coalesce overlapping per-user activity intervals — the
    gaps-and-islands staple behind uptime/coverage reports, ad-session
    stitching, and validity-range compaction (the interval twin of the
    point-event sessionization in ``stream_session``).

    Each event opens an interval [s, s + 600 + 60·len(event_type)]
    (a deterministic integer duration derived from row values, same
    rule-from-values discipline as every sampling operator);
    overlapping or touching intervals per user merge into one row.

    Plan: ONE user-keyed window shuffle serves both passes — an
    island starts where its start exceeds the running max end of all
    preceding intervals (rows-frame max), islands are numbered by a
    running sum of those breaks, and a map-side-combinable groupBy
    collapses each island. Per-task window state is O(1) (running max
    + counter, streamed); all arithmetic is integer seconds, so the
    oracle matches bitwise.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("s"),
        (
            F.unix_timestamp("ts") + 600 + 60 * F.length("event_type")
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = e.withColumn(
        "brk",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    isl = marked.withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("user_id", "island")
        .agg(
            F.min("s").alias("start_sec"),
            F.max("e").alias("end_sec"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("island").cast("long").alias("interval_id"),
            "start_sec",
            "end_sec",
            "n_events",
        )
    )


SQL_MERGE_INTERVALS = """
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 600 + 60 * length(event_type) AS e
  FROM events
),
m AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
              OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM iv
),
i AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM m
)
SELECT user_id, CAST(island AS BIGINT) AS interval_id,
       MIN(s) AS start_sec, MAX(e) AS end_sec,
       COUNT(*) AS n_events
FROM i GROUP BY user_id, island
"""


# --------------------------------------------------------------------
# changepoint_cusum
# --------------------------------------------------------------------


def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer CUSUM changepoint detection over the order stream:
    order each customer's orders by (date, key), and find the split
    position that maximizes the scaled CUSUM deviation
    ``|n·S_i − i·S_n|`` (S = prefix sums of the order totals in
    cents) — the single-changepoint estimator for a level shift in
    spend, the distribution-shift probe next to ``anomaly_zscore``'s
    pointwise outliers. Returns (custkey, n_orders, split_pos, dev)
    for customers with ≥ 2 orders; ties go to the earliest split.

    Exactness: the textbook statistic ``|S_i − (i/n)·S_n|`` is scaled
    by n so it stays in integers — cents are int64 via the decimal
    cast, prefix sums are exact int64 window
    sums (max |n·S_i| ≈ n²·maxprice·100 < 2^63 for n ≤ ~10⁶ orders
    per customer), and the argmax is an integer sort (dev DESC, i ASC)
    — nothing for two engines to round differently.

    Plan: ONE shuffle on custkey serves both window passes (prefix sum
    and whole-partition totals share the partitioning) and the
    row_number argmax — three window functions, zero joins, zero UDFs;
    at 100 TB this is a scan plus a customer-keyed exchange.
    """
    return cusum_changepoints(
        load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            (F.col("o_totalprice").cast("decimal(18,8)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )


def cusum_changepoints(o: DataFrame) -> DataFrame:
    """The input-pluggable CUSUM core: (o_custkey, o_orderkey,
    o_orderdate, cents) in, the per-customer best split out."""
    order = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    whole = Window.partitionBy("o_custkey")
    pre = o.select(
        "o_custkey",
        F.row_number().over(order).alias("i"),
        F.sum("cents").over(order.rowsBetween(Window.unboundedPreceding, 0)).alias("s_i"),
        F.count("*").over(whole).alias("n"),
        F.sum("cents").over(whole).alias("s_n"),
    )
    dev = pre.where((F.col("n") >= 2) & (F.col("i") < F.col("n"))).select(
        "o_custkey",
        "i",
        "n",
        F.abs(F.col("n") * F.col("s_i") - F.col("i") * F.col("s_n")).alias("d"),
    )
    best = Window.partitionBy("o_custkey").orderBy(F.desc("d"), "i")
    return (
        dev.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("n").alias("n_orders"),
            F.col("i").alias("split_pos"),
            F.col("d").alias("dev"),
        )
    )


SQL_CHANGEPOINT_CUSUM = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(CAST(o_totalprice AS DECIMAL(18,8)) * 100 AS BIGINT) AS cents
  FROM orders
),
pre AS (
  SELECT o_custkey,
         ROW_NUMBER() OVER w AS i,
         SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n,
         SUM(cents) OVER (PARTITION BY o_custkey) AS s_n
  FROM o
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
dev AS (
  SELECT o_custkey, i, n,
         CAST(abs(n * s_i - i * s_n) AS BIGINT) AS d
  FROM pre WHERE n >= 2 AND i < n
)
SELECT o_custkey, n AS n_orders, CAST(i AS INT) AS split_pos, d AS dev
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d DESC, i) AS rn
  FROM dev
) WHERE rn = 1
"""


# --------------------------------------------------------------------
# ewma_smooth
# --------------------------------------------------------------------

# Truncated exponential smoothing: α = 1/4, depth K = 8. The weight of
# lag j is α(1−α)^j = 3^j/4^(j+1); scaling by 4^K makes every
# coefficient an exact integer c_j = 3^j · 4^(K−1−j) — the entire
# statistic is int64 arithmetic until one final projection, so the
# oracle is bitwise despite "exponential" in the name. Truncation at
# K lags is the distributed-systems operating point anyway: an
# unbounded EWMA is a sequential scan per key, while a K-lag window is
# one shuffle on the key and K in-frame lags.
EWMA_ALPHA_DEN = 4  # α = 1/EWMA_ALPHA_DEN
EWMA_DEPTH = 8
EWMA_COEFS = tuple(
    3**j * 4 ** (EWMA_DEPTH - 1 - j) for j in range(EWMA_DEPTH)
)  # (16384, 12288, 9216, 6912, 5184, 3888, 2916, 2187), sum 58975


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values
    — the time-series smoothing primitive (anomaly baselines, rate
    estimators) next to ``time_weighted_avg``'s duration weighting and
    ``changepoint_cusum``'s level shifts.

    Each event's EWMA is the c-weighted mean of its own and its
    ≤ ``EWMA_DEPTH − 1`` preceding values within the user's stream
    (ordered by ts, event_id), with the weight vector renormalized
    over however much history exists (so early events are unbiased
    rather than damped toward zero). Values are quantized to exact
    cents first (the statev2/fixed-point rule); weights are the exact
    integers ``EWMA_COEFS``; the division is one half-up integer
    division to micro-cents at the end.

    Scale shape: ONE exchange (hash by user_id), then everything is
    in-frame: K−1 lags over one window spec share a single sort, and
    the arithmetic is row-local. State per task is the window frame —
    K longs per key — not the stream.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = e.select(
        "event_id",
        "user_id",
        "ts",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    lags = [
        F.col("cents") if j == 0 else F.lag("cents", j).over(w)
        for j in range(EWMA_DEPTH)
    ]
    s = sum(
        (
            F.coalesce(lag, F.lit(0)) * F.lit(c)
            for lag, c in zip(lags, EWMA_COEFS)
        ),
        start=F.lit(0),
    )
    wsum = sum(
        (
            F.when(lag.isNotNull(), F.lit(c)).otherwise(F.lit(0))
            for lag, c in zip(lags, EWMA_COEFS)
        ),
        start=F.lit(0),
    )
    n_hist = sum(
        (
            F.when(lag.isNotNull(), F.lit(1)).otherwise(F.lit(0))
            for lag in lags
        ),
        start=F.lit(0),
    )
    return base.select(
        "event_id",
        "user_id",
        "cents",
        n_hist.cast("int").alias("n_hist"),
        s.cast("long").alias("s"),
        wsum.cast("long").alias("wsum"),
    ).select(
        "event_id",
        "user_id",
        "cents",
        "n_hist",
        # half-up INTEGER division (div, never `/` — long `/` is float
        # division and loses bits above 2^53) to micro-cents, one
        # exact int→double projection (values are non-negative across
        # the fixtures; a NULL-cents row contributes nothing and a key
        # whose whole frame is NULL yields NULL, not a crash)
        F.expr(
            "CASE WHEN wsum > 0 THEN"
            " CAST((2 * s * 1000000 + wsum) div (2 * wsum) AS DOUBLE)"
            " / 1000000.0 END"
        ).alias("ewma"),
    )


SQL_EWMA_SMOOTH = f"""
WITH base AS (
  SELECT event_id, user_id, ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
lagged AS (
  SELECT event_id, user_id, cents,
         {", ".join(
             f"LAG(cents, {j}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l{j}"
             for j in range(1, EWMA_DEPTH)
         )}
  FROM base
),
summed AS (
  SELECT event_id, user_id, cents,
         {" + ".join(
             f"COALESCE({'cents' if j == 0 else f'l{j}'}, 0) * {c}"
             for j, c in enumerate(EWMA_COEFS)
         )} AS s,
         {" + ".join(
             f"CASE WHEN {'cents' if j == 0 else f'l{j}'} IS NOT NULL THEN {c} ELSE 0 END"
             for j, c in enumerate(EWMA_COEFS)
         )} AS wsum,
         {" + ".join(
             f"CASE WHEN {'cents' if j == 0 else f'l{j}'} IS NOT NULL THEN 1 ELSE 0 END"
             for j in range(EWMA_DEPTH)
         )} AS n_hist
  FROM lagged
)
SELECT event_id, user_id, cents,
       CAST(n_hist AS INT) AS n_hist,
       CASE WHEN wsum > 0
            THEN CAST((2 * s * 1000000 + wsum) // (2 * wsum) AS DOUBLE)
                 / 1000000.0
       END AS ewma
FROM summed
"""


# --------------------------------------------------------------------
# acf_lags
# --------------------------------------------------------------------

ACF_MAX_LAG = 3

# Pinned micro-quantized Pearson text, shared verbatim by both engines
# (the rank_bm25 / rank_fusion_rrf convention). CAST(1000000 AS DOUBLE)
# forces double arithmetic in Spark SQL, where a bare 1000000.0 literal
# is DECIMAL and divides differently. Zero-variance series (constant
# daily counts) NULL out instead of Inf (the corr_pearson lesson:
# DuckDB's CAST(ROUND(inf) AS BIGINT) raises, it doesn't mismatch).
_ACF_MICRO_EXPR = (
    "CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL "
    "ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * (n * sxy - sx * sy)) / "
    "(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) * "
    "SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 0) AS BIGINT) END"
)


def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily order-count series at
    calendar lags 1..{ACF_MAX_LAG}: for each lag L, the Pearson
    correlation of (orders on day t, orders on day t+L) over all day
    pairs where both days exist.

    Fixed-point discipline: daily counts are exact ints, the six
    Pearson sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) are exact
    int64 (day counts are ~scale·60, squares ~10⁷ — five orders of
    magnitude inside int64 even at 1000× this fixture), and the final
    ratio is the one pinned micro-quantized double expression
    ``_ACF_MICRO_EXPR`` both engines evaluate verbatim.

    Scale shape: the raw table collapses to one row per day in the
    first map-side-combinable aggregate, so the lag self-join and
    everything after it run on a frame proportional to the CALENDAR
    (thousands of rows at any corpus size) — the standard trick that
    makes time-series statistics on 100 TB of events cheap. No
    windows, no global sort; the lag pairing is a calendar-offset
    equi-join on int epoch-days.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.datediff(
                F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
            ).alias("d")
        )
        .groupBy("d")
        .agg(F.count("*").alias("c"))
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("c").alias("y"))
    pairs = a.crossJoin(F.broadcast(lags)).join(
        F.broadcast(b), F.col("db") == F.col("da") + F.col("lag")
    )
    agg = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return agg.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.expr(_ACF_MICRO_EXPR).alias("acf_micro"),
    )


SQL_ACF_LAGS = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
         COUNT(*) AS c
  FROM orders GROUP BY 1
),
lags AS (SELECT lag FROM (VALUES {", ".join(f"({i})" for i in range(1, ACF_MAX_LAG + 1))}) AS t(lag)),
pairs AS (
  SELECT l.lag, a.c AS x, b.c AS y
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.d = a.d + l.lag
),
agg AS (
  SELECT lag,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag,
       n AS n_pairs,
       {_ACF_MICRO_EXPR} AS acf_micro
FROM agg
"""


# --------------------------------------------------------------------
# ts_interpolate
# --------------------------------------------------------------------

# One shared interpolation expression (the _BM25_MICRO_EXPR rule):
# v_prev + (v_next − v_prev) · (t − t_prev)/(t_next − t_prev) on
# epoch-second integers and the decimal-rounded hourly sums — the
# identical IEEE sequence in both engines, micro-quantized once.
# Known buckets emit their own (exact) value; gaps outside the first/
# last observation stay NULL (no extrapolation — the standard
# time_bucket_gapfill/interpolate contract).
_TSI_EXPR = (
    "CASE WHEN n_events > 0 THEN CAST(ROUND(sum_value * 1000000, 0)"
    " AS BIGINT) "
    "WHEN pv IS NULL OR nv IS NULL THEN NULL "
    "ELSE CAST(ROUND((pv + (nv - pv)"
    " * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)))"
    " * 1000000, 0) AS BIGINT) END"
)


def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on the regularized hourly grid — the
    twin of ``resample_ffill`` for quantities where carrying the last
    value lies (rates, gauges, slowly-varying levels): empty buckets
    between two observations take the straight line between them,
    buckets before the first / after the last observation stay NULL
    (no extrapolation). The TimescaleDB
    ``time_bucket_gapfill``/``interpolate`` shape.

    Exactness: hourly sums are the decimal-exact 2-dp doubles the
    ffill lane already proves cross-engine; epochs are int64 seconds;
    the interpolation is ONE shared expression string rounded once to
    micro units.

    Scale shape: identical to ``resample_ffill`` — one combinable
    groupBy over the scan, a spine exploded from the tiny per-key
    bounds row, then one window partition per key carrying four
    ignore-nulls last/first frames over the BUCKET-sized frame
    (calendar-bounded, never event-proportional). Spark computes all
    four functions in two window frames over one sort.
    """
    e = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    hourly = e.groupBy(F.col("event_type"), bucket.alias("bucket")).agg(
        dsum(F.col("value"), "sum_value", 2),
        F.count("*").alias("n_events"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 hour"))
        ).alias("bucket"),
    )
    # shuffle_hash pin: both sides are (keys × calendar)-sized — they
    # GROW together, so the broadcast Catalyst picks at fixture scale
    # flips to a shuffle join at 16× (measured: 2→4 exchanges, 1→0
    # broadcasts). Pinning the scale-safe strategy keeps one plan
    # shape at every volume (the §45 rule: never let a growing side
    # ride a fixture-scale broadcast decision).
    j = (
        spine.join(hourly.hint("shuffle_hash"), ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            "sum_value",
            F.unix_timestamp("bucket").alias("t"),
            F.when(
                F.col("n_events").isNotNull(),
                F.unix_timestamp("bucket"),
            ).alias("kt"),
        )
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    k = j.select(
        "event_type",
        "bucket",
        "n_events",
        "sum_value",
        "t",
        F.last("sum_value", ignorenulls=True).over(wp).alias("pv"),
        F.last("kt", ignorenulls=True).over(wp).alias("pt"),
        F.first("sum_value", ignorenulls=True).over(wn).alias("nv"),
        F.first("kt", ignorenulls=True).over(wn).alias("nt"),
    )
    return k.select(
        "event_type",
        "bucket",
        "n_events",
        F.expr(_TSI_EXPR).alias("interp_micro"),
    )


SQL_TS_INTERPOLATE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))), 2) AS DOUBLE)
           AS sum_value,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
  FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
),
j AS (
  SELECT s.event_type, s.bucket,
         COALESCE(h.n_events, 0) AS n_events,
         h.sum_value,
         CAST(epoch(s.bucket) AS BIGINT) AS t,
         CASE WHEN h.n_events IS NOT NULL
              THEN CAST(epoch(s.bucket) AS BIGINT) END AS kt
  FROM spine s
  LEFT JOIN hourly h ON s.event_type = h.event_type AND s.bucket = h.bucket
),
k AS (
  SELECT event_type, bucket, n_events, sum_value, t,
         LAST_VALUE(sum_value IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(kt IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         FIRST_VALUE(sum_value IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(kt IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM j
)
SELECT event_type, CAST(bucket AS TIMESTAMP) AS bucket, n_events,
       {_TSI_EXPR} AS interp_micro
FROM k
"""


# --------------------------------------------------------------------
# rolling_median
# --------------------------------------------------------------------

ROLL_W = 5  # trailing window width (current row + 4 preceding)


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-{w}-event rolling median of the event value —
    the ROBUST smoothing twin of ``ewma_smooth`` (one spike moves an
    EWMA for {w} rows; the median ignores it outright, which is why
    monitoring pipelines run both). Median = the lower (type-1)
    median, the element at rank ``(n+1) div 2`` of the sorted window —
    pure integer cents, no interpolation, so both engines agree
    bitwise.

    The window is a BOUNDED ROWS frame over the total order
    ``(ts, event_id)`` (event_id breaks timestamp ties, so frames are
    deterministic). The in-frame sort is over ≤ {w} elements — an O(1)
    per-row cost — and the whole operator is one exchange on user_id
    plus one in-partition sort: the same shape as every keyed window,
    at any scale.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_W - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "cents",
        F.collect_list("cents").over(w).alias("_w"),
    ).select(
        "event_id",
        "user_id",
        "cents",
        F.expr("CAST(size(_w) AS INT)").alias("n_window"),
        F.expr(
            "element_at(array_sort(_w), CAST((size(_w) + 1) div 2 AS INT))"
        ).alias("median_cents"),
    )


q_rolling_median.__doc__ = q_rolling_median.__doc__.format(w=ROLL_W)


SQL_ROLLING_MEDIAN = f"""
WITH e AS (
  SELECT event_id, ts, user_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
fr AS (
  SELECT event_id, user_id, cents,
         list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN {ROLL_W - 1} PRECEDING AND CURRENT ROW) AS w
  FROM e
)
SELECT event_id, user_id, cents,
       CAST(LEN(w) AS INT) AS n_window,
       CAST(list_sort(w)[CAST((LEN(w) + 1) // 2 AS INT)] AS BIGINT)
         AS median_cents
FROM fr
"""


# --------------------------------------------------------------------
# forecast_snaive
# --------------------------------------------------------------------

FC_PIVOT_TS = "2024-01-25"  # train on events before, backtest on after

# per-key seasonal forecast = micro-quantized mean of training cents
# (ONE shared expression; the backtest error then lives entirely in
# already-quantized integers)
_FC_FORECAST_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * sum_cents) / n_train, 0)"
    " AS BIGINT)"
)
_FC_MAE_EXPR = (
    "CAST(ROUND((CAST(1 AS DOUBLE) * sum_abs_err) / n_scored, 0)"
    " AS BIGINT)"
)


def q_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST — the baseline every real
    forecasting deployment is graded against before anything fancier
    ships: learn a per-(event_type, hour-of-day) mean-value profile
    from events before ``FC_PIVOT_TS``, score every holdout event
    after it against its key's profile, and report per event type the
    training/holdout sizes, coverage (holdout rows whose key existed
    in training), and the mean absolute error in micro-cents.

    Exactness: the profile is the micro-quantized mean (one shared
    expression); each holdout error is then
    ``|cents·1e6 − forecast_micro|`` — exact int64 — and MAE is one
    more quantized division. Holdout keys unseen in training are
    EXCLUDED from MAE but surfaced via ``n_covered`` (silently scoring
    them as zero would fake accuracy).

    Scale shape: one conditional-aggregation pass builds the profile
    (a combinable groupBy on the BOUNDED key space: |event types| ×
    24), the profile broadcasts, and the backtest is a map-side join
    + one more bounded groupBy. Nothing after the first aggregate is
    row-proportional — the same shape at 100 TB of events.
    """
    pivot = F.lit(FC_PIVOT_TS).cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hod"),
        (F.col("ts") < pivot).alias("is_train"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    profile = (
        ev.where("is_train")
        .groupBy("event_type", "hod")
        .agg(
            F.count("*").alias("n_train"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "event_type",
            "hod",
            "n_train",
            F.expr(_FC_FORECAST_EXPR).alias("forecast_micro"),
        )
    )
    holdout = ev.where(~F.col("is_train"))
    scored = holdout.join(
        F.broadcast(profile), ["event_type", "hod"], "left"
    ).select(
        "event_type",
        F.col("forecast_micro").isNotNull().alias("covered"),
        F.when(
            F.col("forecast_micro").isNotNull(),
            F.abs(F.col("cents") * F.lit(1_000_000) - F.col("forecast_micro")),
        ).alias("abs_err"),
    )
    per_type_train = (
        ev.where("is_train")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_train"))
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").alias("n_holdout"),
            F.sum(F.col("covered").cast("long")).alias("n_covered"),
            F.sum("abs_err").alias("sum_abs_err"),
            F.sum(F.col("covered").cast("long")).alias("n_scored"),
        )
        .join(F.broadcast(per_type_train), "event_type")
        .select(
            "event_type",
            "n_train",
            "n_holdout",
            "n_covered",
            F.expr(_FC_MAE_EXPR).alias("mae_micro"),
        )
    )


SQL_FORECAST_SNAIVE = f"""
WITH e AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
         ts < TIMESTAMP '{FC_PIVOT_TS}' AS is_train,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
profile AS (
  SELECT event_type, hod,
         CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM e WHERE is_train GROUP BY event_type, hod
),
pf AS (
  SELECT event_type, hod, {_FC_FORECAST_EXPR} AS forecast_micro
  FROM profile
),
scored AS (
  SELECT e.event_type,
         pf.forecast_micro IS NOT NULL AS covered,
         CASE WHEN pf.forecast_micro IS NOT NULL
              THEN ABS(e.cents * 1000000 - pf.forecast_micro) END AS abs_err
  FROM e LEFT JOIN pf ON e.event_type = pf.event_type AND e.hod = pf.hod
  WHERE NOT e.is_train
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_holdout,
         CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered,
         CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err,
         CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
           AS n_scored
  FROM scored GROUP BY event_type
),
tr AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_train
  FROM e WHERE is_train GROUP BY event_type
)
SELECT agg.event_type, tr.n_train, agg.n_holdout, agg.n_covered,
       {_FC_MAE_EXPR} AS mae_micro
FROM agg JOIN tr ON agg.event_type = tr.event_type
"""


# --------------------------------------------------------------------
# rolling_quantile
# --------------------------------------------------------------------

ROLLQ_W = 16  # trailing window width (current row + 15 preceding)
# exact type-1 quantile fractions as integer pairs (no float q):
# value at in-frame rank ceil(qn·n/qd) = (qn·n + qd − 1) div qd
ROLLQ_QUANTILES = ((1, 4, "p25"), (1, 2, "p50"), (9, 10, "p90"))


def q_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-{w}-event rolling quantile band (p25 / p50 /
    p90) of the event value — ``rolling_median`` generalized from p50
    to arbitrary p (VERDICT r9 #3): the median says where the center
    is, the band says how wide the tail runs, which is what an alert
    threshold is actually set against. Each quantile is the exact
    type-1 order statistic of the frame — the element at rank
    ``(qn·n + qd − 1) div qd`` of the sorted window — pure integer
    cents and integer rank arithmetic, no interpolation, so both
    engines agree bitwise, ties included (all three quantiles read
    from ONE sorted copy of the frame).

    The frame is a BOUNDED ROWS window over the per-user total order
    ``(ts, event_id)`` (event_id breaks timestamp ties → deterministic
    frames). The in-frame sort is over ≤ {w} elements — an O(w log w)
    per-row cost with w a CONSTANT — and the whole operator is one
    exchange on user_id plus one in-partition sort: the standard
    keyed-window shape at any scale, never a per-group global sort
    (the ``quantile_select`` selection decomposition is the
    substitution for UNBOUNDED frames; a bounded trailing frame never
    needs it).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLLQ_W - 1), 0)
    )
    picks = [
        F.expr(
            f"element_at(array_sort(_w),"
            f" CAST(({qn} * size(_w) + {qd} - 1) div {qd} AS INT))"
        ).alias(f"{lab}_cents")
        for qn, qd, lab in ROLLQ_QUANTILES
    ]
    return ev.select(
        "event_id",
        "user_id",
        "cents",
        F.collect_list("cents").over(w).alias("_w"),
    ).select(
        "event_id",
        "user_id",
        "cents",
        F.expr("CAST(size(_w) AS INT)").alias("n_window"),
        *picks,
    )


q_rolling_quantile.__doc__ = q_rolling_quantile.__doc__.format(w=ROLLQ_W)


def _sql_rolling_quantile() -> str:
    picks = ",\n       ".join(
        f"CAST(list_sort(w)[CAST(({qn} * LEN(w) + {qd} - 1) // {qd}"
        f" AS INT)] AS BIGINT) AS {lab}_cents"
        for qn, qd, lab in ROLLQ_QUANTILES
    )
    return f"""
WITH e AS (
  SELECT event_id, ts, user_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
fr AS (
  SELECT event_id, user_id, cents,
         list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN {ROLLQ_W - 1} PRECEDING AND CURRENT ROW) AS w
  FROM e
)
SELECT event_id, user_id, cents,
       CAST(LEN(w) AS INT) AS n_window,
       {picks}
FROM fr
"""


# --------------------------------------------------------------------
# alert_rate_spike
# --------------------------------------------------------------------

ALERT_BASELINE_BUCKETS = 24  # trailing observed hour-buckets
ALERT_FACTOR = 2  # alert when n > FACTOR x trailing mean

# alert test by integer cross-multiplication (no division): with m
# prior buckets summing to S, "n > FACTOR·S/m" ⇔ "n·m > FACTOR·S";
# m = 0 (a type's first bucket) can never alert — there is no
# baseline to exceed
_ALERT_EXPR = (
    f"base_n > 0 AND n_events * base_n > {ALERT_FACTOR} * base_sum"
)


def q_alert_rate_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-spike alerting over the event stream — the on-call page a
    monitoring pipeline derives from its tumbling counts: per
    (event_type, hour bucket), the event count, the trailing
    ``ALERT_BASELINE_BUCKETS``-observed-bucket baseline (count and
    sum — OBSERVED buckets, a ROWS frame over the per-type bucket
    order, so silent hours don't shrink the frame and the semantics
    stay deterministic), and the alert flag: count exceeds
    ``ALERT_FACTOR``× the baseline mean, tested by integer
    cross-multiplication so no division ever runs. The composition
    sibling of ``anomaly_zscore`` (value-level, corpus-global
    moments) and ``ewma_smooth`` (smoothed level): this is the
    bucketed RATE alert with a bounded memory window, which is what
    production alerting actually evaluates.

    Scale shape: one map-side-combinable count per (type, hour) —
    output bounded by |types| × |hours|, the TIME domain, not the
    corpus — then one keyed window over those buckets (partition =
    event_type, frame = 24 rows). Nothing after the first aggregate
    is row-proportional; the same shape at 100 TB of events.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    )
    buckets = ev.groupBy("event_type", "bucket_ts").agg(
        F.count("*").alias("n_events")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(-ALERT_BASELINE_BUCKETS, -1)
    )
    return buckets.select(
        "event_type",
        "bucket_ts",
        "n_events",
        F.coalesce(F.count("n_events").over(w), F.lit(0)).cast(
            "long"
        ).alias("base_n"),
        F.coalesce(F.sum("n_events").over(w), F.lit(0)).cast("long").alias(
            "base_sum"
        ),
    ).withColumn("alert", F.expr(_ALERT_EXPR))


# Fano factor (variance-to-mean over the hour GRID) and grid mean,
# micro-quantized: var/mean = (N·Σy² − (Σy)²)/(N·Σy) with N the
# inclusive min→max hour span — silent hours contribute y = 0 to the
# moments WITHOUT being materialized (Σy/Σy² over observed rows are
# already the grid sums; only N differs), so the lane never
# generates a grid. Products decimal(38,0) ↔ HUGEINT; one pinned
# division each; a type with zero events has no defined dispersion
# → NULL (unreachable here — observed types have ≥ 1 event — but
# the 0/0 standard holds).
_FANO_EXPR = (
    "CASE WHEN n_events = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * CAST(var_num AS DOUBLE))"
    " / CAST(nh_s AS DOUBLE), 0) AS BIGINT) END"
)
_GRID_MEAN_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * n_events)"
    " / n_hours, 0) AS BIGINT)"
)


def q_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type burstiness of the hourly arrival process — the
    Fano factor (dispersion index) over the type's full hour grid:
    a Poisson arrival stream reads ≈ 1, clumped/bursty traffic » 1,
    clock-regular traffic « 1. The monitoring family's
    distribution-shape leg next to ``alert_rate_spike`` (threshold
    alerts) and ``trend_linfit`` (drift): an alert threshold tuned
    on a Poisson assumption misfires exactly when this scalar says
    the process is not Poisson.

    The grid trick is the scale story: variance over the inclusive
    min→max hour span INCLUDING silent hours needs no grid
    generation — zero-count hours add nothing to Σy or Σy², so the
    observed (type, hour) aggregate already carries the grid
    moments and only N (the span, from min/max bucket timestamps)
    differs. Everything is one map-side-combinable (type, hour)
    count — output bounded by the TIME domain — then one |types|-
    group combinable aggregate. Zero joins, windows, broadcasts.

    Exactness: counts int64; N from exact epoch-second arithmetic
    (``div 3600``); N·Σy² − (Σy)² and N·Σy in decimal/HUGEINT; two
    pinned micro divisions (``_FANO_EXPR`` / ``_GRID_MEAN_EXPR``).

    Variance convention (ADVICE r11): the numerator is the
    POPULATION (divide-by-N) grid variance — var/mean =
    (N·Σy² − (Σy)²)/(N·Σy) — not the sample (N−1) form, so the
    reported Fano is (N−1)/N of the textbook sample-variance
    dispersion index. Pinned deliberately: the hour grid is the
    COMPLETE observation window (every grid cell is observed, none
    sampled), where the population form is the defined statistic;
    threshold tuning downstream should calibrate against this
    convention. The inter-arrival twin ``event_interarrival`` pins
    the same population convention for its σ.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    )
    buckets = ev.groupBy("event_type", "bucket_ts").agg(
        F.count("*").alias("y")
    )

    dec = "decimal(38,0)"
    g = buckets.groupBy("event_type").agg(
        F.count("*").alias("n_active_hours"),
        F.sum("y").alias("n_events"),
        exact_product_sum(F.col("y"), F.col("y")).cast(dec).alias("ss"),
        F.min("bucket_ts").alias("min_b"),
        F.max("bucket_ts").alias("max_b"),
    )
    g = g.withColumn(
        "n_hours",
        F.expr(
            "(unix_timestamp(max_b) - unix_timestamp(min_b))"
            " div 3600 + 1"
        ).cast("long"),
    )
    g = g.withColumn(
        "var_num",
        (
            F.col("n_hours").cast(dec) * F.col("ss")
            - F.col("n_events").cast(dec) * F.col("n_events").cast(dec)
        ).cast(dec),
    ).withColumn(
        "nh_s",
        (F.col("n_hours").cast(dec) * F.col("n_events").cast(dec)).cast(dec),
    )
    return g.select(
        "event_type",
        "n_hours",
        "n_active_hours",
        "n_events",
        F.expr(_GRID_MEAN_EXPR).alias("mean_per_hour_micro"),
        F.expr(_FANO_EXPR).alias("fano_micro"),
    )


SQL_EVENT_BURSTINESS = f"""
WITH buckets AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_active_hours,
         CAST(SUM(y) AS BIGINT) AS n_events,
         SUM(CAST(y AS HUGEINT) * y) AS ss,
         MIN(bucket_ts) AS min_b,
         MAX(bucket_ts) AS max_b
  FROM buckets GROUP BY event_type
),
m AS (
  SELECT *,
         (CAST(epoch(max_b) AS BIGINT)
          - CAST(epoch(min_b) AS BIGINT)) // 3600 + 1
           AS n_hours
  FROM g
),
v AS (
  SELECT *,
         CAST(n_hours AS HUGEINT) * ss
           - CAST(n_events AS HUGEINT) * n_events AS var_num,
         CAST(n_hours AS HUGEINT) * n_events AS nh_s
  FROM m
)
SELECT event_type, n_hours, n_active_hours, n_events,
       {_GRID_MEAN_EXPR} AS mean_per_hour_micro,
       {_FANO_EXPR} AS fano_micro
FROM v
"""


SQL_ALERT_RATE_SPIKE = f"""
WITH buckets AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
framed AS (
  SELECT event_type, bucket_ts, n_events,
         CAST(COALESCE(COUNT(n_events) OVER w, 0) AS BIGINT) AS base_n,
         CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS base_sum
  FROM buckets
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
               ROWS BETWEEN {ALERT_BASELINE_BUCKETS} PRECEDING
               AND 1 PRECEDING)
)
SELECT event_type, bucket_ts, n_events, base_n, base_sum,
       {_ALERT_EXPR} AS alert
FROM framed
"""


# --------------------------------------------------------------------
# event_interarrival
# --------------------------------------------------------------------

# Inter-arrival statistics from exact integer sufficient statistics:
# with gaps d_i (µs, int64), n = #gaps, Σd, Σd², the population
# variance numerator is V = n·Σd² − (Σd)² (decimal/HUGEINT), and
# n·σ = sqrt(V) — ONE IEEE-correctly-rounded sqrt on an exact
# integer, the assortativity/pearson precedent. Multiplying the
# Goh–Barabási B = (σ−μ)/(σ+μ) through by n gives
# B = (sqrt(V) − Σd)/(sqrt(V) + Σd) and CV = σ/μ = sqrt(V)/Σd —
# each ONE pinned micro division of deterministic doubles. A type
# whose events are all simultaneous (Σd = 0, V = 0) has no defined
# ratio → NULL, the 0/0 standard.
_GAP_MEAN_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * CAST(gap_sum_us AS DOUBLE))"
    " / n_gaps, 0) AS BIGINT)"
)
_GAP_CV_EXPR = (
    "CASE WHEN gap_sum_us = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE)"
    " * sqrt(CAST(v_num AS DOUBLE)))"
    " / CAST(gap_sum_us AS DOUBLE), 0) AS BIGINT) END"
)
_B_INDEX_EXPR = (
    "CASE WHEN gap_sum_us = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE)"
    " * (sqrt(CAST(v_num AS DOUBLE)) - CAST(gap_sum_us AS DOUBLE)))"
    " / (sqrt(CAST(v_num AS DOUBLE)) + CAST(gap_sum_us AS DOUBLE)), 0)"
    " AS BIGINT) END"
)


def q_event_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival burstiness — the coefficient of
    variation and the Goh–Barabási B-index ((σ−μ)/(σ+μ)) of the gaps
    between consecutive events — ``event_burstiness``'s sub-grid
    twin (VERDICT r11 #4): the hourly Fano factor reads COUNT
    dispersion on the hour grid and is blind to clumping inside a
    bucket (60 events packed into one minute and 60 spread across
    the hour give the same hourly histogram), while the gap
    statistics see it directly. B ∈ [−1, 1]: −1 clock-regular
    (all gaps equal), ≈ 0 Poisson (σ ≈ μ, CV ≈ 1), → 1 bursty
    (heavy-tailed gaps). The planted pytest pins exactly the
    signature the Fano cannot: two types with identical hourly
    histograms, B = −1 vs B ≈ 0.76.

    Semantics: gaps are differences of CONSECUTIVE events in ts
    order within a type, in exact integer microseconds
    (``unix_micros`` ↔ ``epoch_us``). Ties need no tiebreaker: the
    sorted ts multiset determines the gap multiset regardless of
    how equal timestamps are ordered, and every statistic here is a
    symmetric function of the gaps. Types with < 2 events emit no
    row (no inter-arrival process exists to measure — same
    dropped-not-NULL contract as ``text_readability``'s token-less
    docs). Variance convention: POPULATION (divide-by-n), matching
    the Fano twin's documented convention.

    Exactness: see ``_B_INDEX_EXPR`` — int64 gaps, decimal/HUGEINT
    Σd² and V, one correctly-rounded sqrt per statistic, one pinned
    micro division each. Declared seam (the n_wedges precedent):
    ``mean_gap_us_micro`` is µs × 10⁶, so a single gap beyond
    ~292 years overflows the int64 output cap LOUDLY on both
    engines; Σd telescopes to max(t) − min(t), so the window's gap
    sum is cross-checkable against a plain aggregate (pinned in the
    pytest).

    Scale shape: ONE shuffle — the per-type lag window — then a
    map-side-combinable groupBy on the same key (output bounded by
    |types|). Zero joins, zero broadcasts. The window sorts each
    type's partition; a single dominant type is the documented skew
    seam, mitigated at 100 TB by segmenting the sort per (type, day)
    and stitching the day-boundary gaps with one extra bounded
    aggregate — not built here (the fixture types are balanced;
    the segmented variant changes no semantics, only partitioning).
    """

    # ts is timestamp_ntz; unix_micros needs TIMESTAMP, and the
    # ntz→ltz cast is a CONSTANT (DST-free) mapping because
    # load_table → session.tune pins spark.sql.session.timeZone=UTC
    # before anything evaluates — the exact naive-as-UTC micros,
    # bitwise equal to DuckDB's epoch_us on the same naive value.
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    w = Window.partitionBy("event_type").orderBy("t")
    gaps = ev.select(
        "event_type", (F.col("t") - F.lag("t").over(w)).alias("d")
    ).where(F.col("d").isNotNull())
    dec = "decimal(38,0)"
    g = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("d").alias("gap_sum_us"),
        exact_product_sum(F.col("d"), F.col("d")).cast(dec).alias("gap_sq"),
    )
    g = g.withColumn(
        "v_num",
        (
            F.col("n_gaps").cast(dec) * F.col("gap_sq")
            - F.col("gap_sum_us").cast(dec) * F.col("gap_sum_us").cast(dec)
        ).cast(dec),
    )
    return g.select(
        "event_type",
        "n_gaps",
        "gap_sum_us",
        F.expr(_GAP_MEAN_EXPR).alias("mean_gap_us_micro"),
        F.expr(_GAP_CV_EXPR).alias("cv_micro"),
        F.expr(_B_INDEX_EXPR).alias("b_index_micro"),
    )


SQL_EVENT_INTERARRIVAL = f"""
WITH t AS (
  SELECT event_type, epoch_us(ts) AS t FROM events
),
d AS (
  SELECT event_type,
         t - lag(t) OVER (PARTITION BY event_type ORDER BY t) AS d
  FROM t
),
g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(d) AS BIGINT) AS gap_sum_us,
         SUM(CAST(d AS HUGEINT) * d) AS gap_sq
  FROM d WHERE d IS NOT NULL GROUP BY event_type
),
v AS (
  SELECT *,
         CAST(n_gaps AS HUGEINT) * gap_sq
           - CAST(gap_sum_us AS HUGEINT) * gap_sum_us AS v_num
  FROM g
)
SELECT event_type, n_gaps, gap_sum_us,
       {_GAP_MEAN_EXPR} AS mean_gap_us_micro,
       {_GAP_CV_EXPR} AS cv_micro,
       {_B_INDEX_EXPR} AS b_index_micro
FROM v
"""


# --------------------------------------------------------------------
# event_interarrival_scale
# --------------------------------------------------------------------


def q_event_interarrival_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEGMENTED formulation of ``q_event_interarrival`` — the
    100 TB twin that implements the skew seam the base lane
    documents: a single dominant event type turns the per-type sort
    window into one giant partition, so this twin sorts per
    (type, DAY) segment instead and stitches the day-boundary gaps
    back from a bounded per-segment summary. Output is
    ROW-IDENTICAL to the base lane by construction (pinned pytest;
    the two share ONE oracle, the ``eval_mrr_scale`` pattern): the
    global sorted sequence's consecutive pairs partition exactly
    into within-segment consecutive pairs plus one boundary pair per
    adjacent segment (segments are time-ordered and ties at a day
    boundary sort into the later segment, so ordering is preserved),
    and every statistic here is a symmetric function of that gap
    multiset.

    Plan: the lag window partitions by (type, day) — segment size is
    bounded by a DAY of one type's arrivals instead of its whole
    history — then one combinable (type, day) aggregate carrying the
    segment's exact (n, Σd, Σd², min_t, max_t), then the boundary
    stitch: a lag over the per-(type, day) summary (BOUNDED: |types|
    × |days| rows — the time domain, not the corpus) and one final
    |types|-group aggregate. Same one-pinned-division micro
    expressions as the base lane.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("t")
    gaps = ev.withColumn("d", F.col("t") - F.lag("t").over(w))

    dec = "decimal(38,0)"
    seg = gaps.groupBy("event_type", "day").agg(
        F.sum((F.col("d").isNotNull()).cast("long")).alias("n_seg"),
        F.coalesce(F.sum("d"), F.lit(0)).alias("sum_seg"),
        F.coalesce(
            exact_product_sum(F.col("d"), F.col("d")), F.lit(0).cast(dec)
        ).cast(dec).alias("sq_seg"),
        F.min("t").alias("min_t"),
        F.max("t").alias("max_t"),
    )
    bw = Window.partitionBy("event_type").orderBy("day")
    stitched = seg.withColumn(
        "bgap", F.col("min_t") - F.lag("max_t").over(bw)
    )
    g = stitched.groupBy("event_type").agg(
        (
            F.sum("n_seg") + F.sum((F.col("bgap").isNotNull()).cast("long"))
        ).alias("n_gaps"),
        (F.sum("sum_seg") + F.coalesce(F.sum("bgap"), F.lit(0))).alias(
            "gap_sum_us"
        ),
        (
            F.sum("sq_seg")
            + F.coalesce(
                exact_product_sum(F.col("bgap"), F.col("bgap")),
                F.lit(0).cast(dec),
            )
        ).cast(dec).alias("gap_sq"),
    )
    g = g.where(F.col("n_gaps") > 0).withColumn(
        "v_num",
        (
            F.col("n_gaps").cast(dec) * F.col("gap_sq")
            - F.col("gap_sum_us").cast(dec) * F.col("gap_sum_us").cast(dec)
        ).cast(dec),
    )
    return g.select(
        "event_type",
        "n_gaps",
        "gap_sum_us",
        F.expr(_GAP_MEAN_EXPR).alias("mean_gap_us_micro"),
        F.expr(_GAP_CV_EXPR).alias("cv_micro"),
        F.expr(_B_INDEX_EXPR).alias("b_index_micro"),
    )


QUERIES: list[Query] = [
    Query(
        "resample_ffill",
        q_resample_ffill,
        SQL_RESAMPLE_FFILL,
        ("relational", "window", "streaming"),
    ),
    Query(
        "window_range_interval",
        q_window_range_interval,
        SQL_WINDOW_RANGE_INTERVAL,
        ("relational", "window", "timeseries"),
    ),
    Query(
        "anomaly_zscore",
        q_anomaly_zscore,
        SQL_ANOMALY_ZSCORE,
        ("relational", "quality", "timeseries"),
    ),
    Query(
        "time_weighted_avg",
        q_time_weighted_avg,
        SQL_TIME_WEIGHTED_AVG,
        ("relational", "timeseries", "window"),
    ),
    Query(
        "period_growth",
        q_period_growth,
        SQL_PERIOD_GROWTH,
        ("relational", "analytics", "timeseries"),
    ),
    Query(
        "merge_intervals",
        q_merge_intervals,
        SQL_MERGE_INTERVALS,
        ("relational", "window", "timeseries"),
    ),
    Query(
        "changepoint_cusum",
        q_changepoint_cusum,
        SQL_CHANGEPOINT_CUSUM,
        ("relational", "timeseries", "window"),
    ),
    Query(
        "ewma_smooth",
        q_ewma_smooth,
        SQL_EWMA_SMOOTH,
        ("relational", "timeseries", "window"),
    ),
    Query(
        "acf_lags",
        q_acf_lags,
        SQL_ACF_LAGS,
        ("relational", "timeseries", "statistics"),
    ),
    Query(
        "ts_interpolate",
        q_ts_interpolate,
        SQL_TS_INTERPOLATE,
        ("relational", "timeseries", "window"),
    ),
    Query(
        "rolling_median",
        q_rolling_median,
        SQL_ROLLING_MEDIAN,
        ("relational", "timeseries", "window"),
    ),
    Query(
        "forecast_snaive",
        q_forecast_snaive,
        SQL_FORECAST_SNAIVE,
        ("relational", "timeseries", "monitoring", "statistics"),
    ),
    Query(
        "rolling_quantile",
        q_rolling_quantile,
        _sql_rolling_quantile(),
        ("relational", "timeseries", "window", "statistics"),
    ),
    Query(
        "alert_rate_spike",
        q_alert_rate_spike,
        SQL_ALERT_RATE_SPIKE,
        ("relational", "timeseries", "monitoring", "window"),
    ),
    Query(
        "event_burstiness",
        q_event_burstiness,
        SQL_EVENT_BURSTINESS,
        ("relational", "timeseries", "monitoring", "statistics"),
    ),
    Query(
        "event_interarrival",
        q_event_interarrival,
        SQL_EVENT_INTERARRIVAL,
        ("relational", "timeseries", "monitoring", "statistics"),
    ),
    Query(
        "event_interarrival_scale",
        q_event_interarrival_scale,
        SQL_EVENT_INTERARRIVAL,
        ("relational", "timeseries", "monitoring", "statistics"),
    ),
]
