"""Regular-time-grid and interval-algebra operators over event/date data.

Extension family (the reference's event feed, index.js:226-238, exposes
only a raw reverse-chron listing; these are the temporal shapes a
time-series store grows into):

* gap-filled resampling — TimescaleDB's `time_bucket_gapfill` + `locf`
  re-expressed as DataFrame ops: bucket, densify against a generated
  calendar spine, forward-fill with `last(..., ignorenulls=True)`;
* interval-overlap self-join — Allen-algebra `overlaps` between the
  ship→receipt windows of lineitems of the same order, the classic
  temporal-join shape (room-booking conflicts, concurrent-session
  counting) bounded by an equi-key so it never goes quadratic globally.

Scale notes: the calendar spine is hours × event types — its cardinality
grows with WALL-CLOCK SPAN and type arity, not with data volume, so the
cross join is bounded by construction at any SF (and both inputs are
already aggregates). The overlap join shuffles once on the order key;
per-key group size is bounded by the schema (≤ 7 lineitems/order in
TPC-H-shaped data), so the within-group pair expansion is O(1) per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import register

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"

# ------------------------------------------------------- gap-filled resample

_GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type,
         count(*) AS n, round(sum(value), 2) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
),
grid AS (
  SELECT s.h, t.event_type
  FROM spine s, (SELECT DISTINCT event_type FROM events) t
)
SELECT strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_s,
       g.event_type,
       coalesce(hh.n, 0) AS n_events,
       last_value(hh.v IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
       CASE WHEN hh.n IS NULL THEN 1 ELSE 0 END AS is_gap
FROM grid g
LEFT JOIN hourly hh ON g.h = hh.h AND g.event_type = hh.event_type
ORDER BY g.event_type, hour_s
"""


@register("events_gapfill_hourly", oracle=_GAPFILL_ORACLE, tags=("event-time", "window-fn"))
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample with last-observation-carried-forward:
    bucket events to (hour, type) totals, densify against a generated
    hour spine so silent hours appear as explicit rows, and forward-fill
    the last seen total (`locf`). Dashboards and anomaly detectors need
    the dense grid — a missing bucket is a signal, not an absence.

    Plan: one partial-agg'd groupBy over events (the only data-sized
    shuffle), then everything downstream operates on the spine — hours ×
    types, whose cardinality is set by wall-clock span and type arity,
    NOT by event volume, so the densify cross join and the per-type
    forward-fill window cost the same at 100 TB as at sf0.001. The fill
    carries the rounded bucket TOTAL (a sum of 2-decimal inputs is itself
    2-decimal, so rounding never lands on a half-tie — engines with
    different tie-break directions still agree; a bucket AVERAGE of two
    2-decimal values can land exactly on .xx5 and diverge, measured at
    sf0.01)."""
    events = load_tables(spark, sf_dir)["events"]
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("v"),
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h")
    )
    types = events.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["h", "event_type"], "left")
        .withColumn("v_filled", F.last("v", ignorenulls=True).over(w))
        .select(
            F.date_format("h", _TS_FMT_SPARK).alias("hour_s"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            "v_filled",
            F.when(F.col("n").isNull(), 1).otherwise(0).alias("is_gap"),
        )
        .orderBy("event_type", "hour_s")
    )


# --------------------------------------------------- interval-overlap join

_OVERLAP_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_shipdate AS DATE) AS d0,
         -- trunc() keeps DuckDB's double->int conversion (round-to-nearest)
         -- aligned with Spark's truncating cast for any fractional quantity
         CAST(l_shipdate AS DATE) + to_days(CAST(trunc(l_quantity) AS INTEGER)) AS d1
  FROM lineitem
),
pairs AS (
  SELECT a.l_orderkey,
         date_diff('day', greatest(a.d0, b.d0), least(a.d1, b.d1)) + 1
           AS overlap_days
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey
   AND a.l_linenumber < b.l_linenumber
   AND a.d0 <= b.d1 AND b.d0 <= a.d1
),
per_order AS (
  SELECT l.l_orderkey,
         count(p.overlap_days) AS n_pairs,
         CAST(coalesce(sum(p.overlap_days), 0) AS BIGINT) AS total_days
  FROM (SELECT l_orderkey FROM li GROUP BY 1 HAVING count(*) >= 2) l
  LEFT JOIN pairs p ON l.l_orderkey = p.l_orderkey
  GROUP BY 1
)
SELECT n_pairs, count(*) AS n_orders,
       round(avg(total_days), 2) AS avg_overlap_days
FROM per_order
GROUP BY n_pairs
ORDER BY n_pairs
"""


@register("lineitem_interval_overlap", oracle=_OVERLAP_ORACLE, tags=("join", "interval"))
def lineitem_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen-`overlaps` interval self-join: for each order, count lineitem
    pairs whose delivery windows (shipdate → shipdate + quantity days; the
    fixture carries no receiptdate, so transit time is derived
    deterministically from quantity) overlap in time, then histogram the
    orders by overlap-pair count (concurrent-shipment pressure). The
    general temporal-conflict shape — double-bookings, concurrent
    sessions — anchored to an equi-key.

    Plan: ONE shuffle of the pruned 4-column lineitem relation on the
    order key; the overlap inequality evaluates inside the sort-merge
    join's per-key group, which TPC-H bounds at ≤ 7 rows, so the pair
    expansion is O(1) per key and the join never degenerates into a
    cartesian (the registry-wide plan audit enforces this). All outputs
    are integer counts + one rounded average."""
    li = (
        load_tables(spark, sf_dir)["lineitem"]
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("d0"),
            F.date_add(
                F.col("l_shipdate").cast("date"), F.col("l_quantity").cast("int")
            ).alias("d1"),
        )
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber"))
            & (F.col("a.d0") <= F.col("b.d1"))
            & (F.col("b.d0") <= F.col("a.d1")),
        )
        .select(
            F.col("a.l_orderkey").alias("l_orderkey"),
            (
                F.datediff(
                    F.least("a.d1", "b.d1"), F.greatest("a.d0", "b.d0")
                )
                + 1
            ).alias("overlap_days"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.count("overlap_days").alias("n_pairs"),
            F.sum("overlap_days").cast("bigint").alias("total_days"),
        )
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines") >= 2)
        .select("l_orderkey")
    )
    per_order = multi.join(pairs, "l_orderkey", "left").select(
        "l_orderkey",
        F.coalesce("n_pairs", F.lit(0).cast("bigint")).alias("n_pairs"),
        F.coalesce("total_days", F.lit(0).cast("bigint")).alias("total_days"),
    )
    return (
        per_order.groupBy("n_pairs")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("total_days"), 2).alias("avg_overlap_days"),
        )
        .orderBy("n_pairs")
    )


# --------------------------------------------------- year-over-year growth

_YOY_ORACLE = """
WITH monthly AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month_s,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders
  GROUP BY 1
),
grown AS (
  SELECT month_s, n_orders, revenue,
         round(
           (revenue - lag(revenue, 12) OVER (ORDER BY month_s))
             / lag(revenue, 12) OVER (ORDER BY month_s) * 100, 2
         ) AS yoy_pct
  FROM monthly
)
-- first-year months have no prior-year comparison; a NULL double renders
-- as NaN through Spark->pandas, so the no-comparison rows are excluded
-- rather than emitted as NULL (registry float policy: no NULL floats out)
SELECT * FROM grown WHERE yoy_pct IS NOT NULL
ORDER BY month_s
"""


@register("orders_yoy_growth", oracle=_YOY_ORACLE, tags=("agg", "window-fn"))
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year growth — the standard BI
    time-series cut: aggregate to months, then lag(12) over the monthly
    series for the same-month-last-year comparison (NULL for the first
    year, like every BI tool renders it).

    Plan: ONE partial-agg'd shuffle reduces orders to month cardinality
    (≤ 84 rows for the 7-year TPC-H span at ANY SF); the lag window runs
    over that aggregate — its single-partition global ordering is safe
    precisely because the input is calendar-bounded, the same argument
    as the gapfill spine above. Float determinism: growth is computed
    from the already-round(2)-ed monthly revenues, so the division's
    operands are bit-identical cross-engine before the final round."""
    monthly = (
        load_tables(spark, sf_dir)["orders"]
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month_s"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    w = Window.orderBy("month_s")
    prev = F.lag("revenue", 12).over(w)
    return (
        monthly.select(
            "month_s",
            "n_orders",
            "revenue",
            F.round((F.col("revenue") - prev) / prev * 100, 2).alias("yoy_pct"),
        )
        # no-prior-year months excluded: NULL doubles render as NaN through
        # toPandas and the registry emits no NULL floats (oracle matches)
        .filter(F.col("yoy_pct").isNotNull())
        .orderBy("month_s")
    )


# ------------------------------------------------ seasonal decomposition

_DECOMP_ORACLE = """
WITH monthly AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month_s,
         CAST(substr(strftime(CAST(o_orderdate AS DATE), '%Y-%m'), 6, 2)
              AS INTEGER) AS moy,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders
  GROUP BY 1, 2
),
seq AS (
  SELECT month_s, moy, revenue,
         row_number() OVER (ORDER BY month_s) AS rn,
         count(*) OVER () AS n
  FROM monthly
),
trended AS (
  SELECT month_s, moy, revenue, rn, n,
         round(avg(revenue) OVER (ORDER BY month_s
                                  ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING), 2)
           AS trend
  FROM seq
),
full_win AS (
  SELECT * FROM trended WHERE rn > 6 AND rn <= n - 6
),
seasonal AS (
  SELECT moy, round(avg(revenue - trend), 2) AS seasonal
  FROM full_win GROUP BY moy
)
SELECT f.month_s, f.revenue, f.trend, s.seasonal,
       round(f.revenue - f.trend - s.seasonal, 2) AS residual
FROM full_win f JOIN seasonal s ON f.moy = s.moy
ORDER BY f.month_s
"""


@register("orders_seasonal_decompose", oracle=_DECOMP_ORACLE, tags=("agg", "window-fn"))
def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of monthly revenue:
    trend = centered 13-month moving average, seasonal = per-calendar-
    month mean deviation from trend, residual = the rest — the
    moving-average half of STL, which is what capacity planning actually
    consumes ("December is +X above trend"). Months without a full
    13-month window are excluded (the standard edge treatment).

    Plan: orders reduce once to the ≤ 84-row monthly series (partial-agg
    shuffle); every window after that runs over the calendar-bounded
    aggregate — same bounded-global-window argument as
    `orders_yoy_growth`. Each stage rounds to 2 before feeding the next,
    so trend/seasonal/residual arithmetic is performed on bit-identical
    operands in both engines."""
    monthly = (
        load_tables(spark, sf_dir)["orders"]
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month_s"),
            F.month("o_orderdate").alias("moy"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    wseq = Window.orderBy("month_s")
    seq = monthly.select(
        "month_s",
        "moy",
        "revenue",
        F.row_number().over(wseq).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    trended = seq.withColumn(
        "trend",
        F.round(F.avg("revenue").over(wseq.rowsBetween(-6, 6)), 2),
    )
    full_win = trended.filter((F.col("rn") > 6) & (F.col("rn") <= F.col("n") - 6))
    seasonal = full_win.groupBy("moy").agg(
        F.round(F.avg(F.col("revenue") - F.col("trend")), 2).alias("seasonal")
    )
    return (
        full_win.join(F.broadcast(seasonal), "moy")
        .select(
            "month_s",
            "revenue",
            "trend",
            "seasonal",
            F.round(
                F.col("revenue") - F.col("trend") - F.col("seasonal"), 2
            ).alias("residual"),
        )
        .orderBy("month_s")
    )


# ------------------------------------------------ CUSUM changepoint scan

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         round(avg(value), 6) AS mu
  FROM events GROUP BY 1
),
centered AS (
  SELECT d, mu, round(avg(mu) OVER (), 6) AS grand
  FROM daily
),
cusum AS (
  SELECT d, mu,
         round(sum(mu - grand) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING), 6)
           AS s
  FROM centered
),
peak AS (
  SELECT d AS cp_day, abs(s) AS peak_abs_s
  FROM cusum ORDER BY abs(s) DESC, d LIMIT 1
)
SELECT (SELECT count(*) FROM daily) AS n_days,
       strftime(p.cp_day, '%Y-%m-%d') AS changepoint_day,
       round(p.peak_abs_s, 6) AS peak_abs_s,
       (SELECT round(avg(mu), 6) FROM daily WHERE d <= p.cp_day) AS mean_before,
       (SELECT round(avg(mu), 6) FROM daily WHERE d > p.cp_day) AS mean_after
FROM peak p
"""


@register("events_changepoint_cusum", oracle=_CUSUM_ORACLE, tags=("events", "agg", "stats"))
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily mean of event values: the
    cumulative sum of deviations from the grand mean peaks (in absolute
    value) at the most likely level-shift day — the classic single-
    changepoint estimator behind drift monitors ("did the metric's level
    change, and when?"). Reports the peak day plus the mean on each side.

    Plan: events reduce once to day cardinality; the CUSUM is one running
    window over the calendar-bounded series and the peak is a 1-row
    sort-limit with a day tiebreak. Every stage rounds to 6 before the
    next consumes it, so the cumulative sums and the argmax comparison
    order are engine-identical."""
    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.round(F.avg("value"), 6).alias("mu")
    )
    from ..persistence import tracked_persist

    daily = tracked_persist(daily)  # read by cusum, counts, and both side-means
    centered = daily.withColumn(
        "grand", F.round(F.avg("mu").over(Window.partitionBy()), 6)
    )
    cusum = centered.withColumn(
        "s",
        F.round(
            F.sum(F.col("mu") - F.col("grand")).over(
                Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            6,
        ),
    )
    peak = (
        cusum.select("d", F.abs("s").alias("abs_s"))
        .orderBy(F.col("abs_s").desc(), "d")
        .limit(1)
        .select(F.col("d").alias("cp_day"), F.col("abs_s").alias("peak_abs_s"))
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    sided = (
        daily.crossJoin(F.broadcast(peak))
        .groupBy("cp_day", "peak_abs_s")
        .agg(
            F.round(F.avg(F.when(F.col("d") <= F.col("cp_day"), F.col("mu"))), 6).alias(
                "mean_before"
            ),
            F.round(F.avg(F.when(F.col("d") > F.col("cp_day"), F.col("mu"))), 6).alias(
                "mean_after"
            ),
        )
    )
    return n_days.crossJoin(F.broadcast(sided)).select(
        "n_days",
        F.date_format("cp_day", "yyyy-MM-dd").alias("changepoint_day"),
        F.round("peak_abs_s", 6).alias("peak_abs_s"),
        "mean_before",
        "mean_after",
    )


# ---------------------------------------------- Holt linear-trend forecast

_HOLT_ALPHA = 0.5  # level smoothing
_HOLT_GAMMA = 0.3  # trend smoothing
_HOLT_H = 3  # forecast horizon (days)

_HOLT_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
seq AS (
  SELECT y, row_number() OVER (ORDER BY d) AS rk, count(*) OVER () AS n
  FROM daily
),
rec AS (
  SELECT rk, n, y, y AS l, CAST(0 AS DOUBLE) AS b
  FROM seq WHERE rk = 1
  UNION ALL
  SELECT s.rk, s.n, s.y,
         {_HOLT_ALPHA} * s.y + (1 - {_HOLT_ALPHA}) * (r.l + r.b),
         {_HOLT_GAMMA} * (({_HOLT_ALPHA} * s.y + (1 - {_HOLT_ALPHA}) * (r.l + r.b)) - r.l)
           + (1 - {_HOLT_GAMMA}) * r.b
  FROM seq s JOIN rec r ON s.rk = r.rk + 1
)
SELECT n AS n_days,
       round(l, 4) AS level,
       round(b, 4) AS trend,
       round(l + 1 * b, 4) AS forecast_1,
       round(l + 2 * b, 4) AS forecast_2,
       round(l + {_HOLT_H} * b, 4) AS forecast_3
FROM rec WHERE rk = n
"""

_HOLT_SCHEMA = "n_days long, level double, trend double"


def _holt_fold(pdf):
    """Holt's linear method: level/trend double-exponential smoothing.
    Sequential by definition (each step consumes the previous state);
    the arithmetic is written as the EXACT expression sequence the
    oracle's recursive CTE evaluates, so IEEE float64 results are
    bit-identical cross-engine (same ops, same order)."""
    pdf = pdf.sort_values("d").reset_index(drop=True)
    ys = pdf["y"].to_list()
    level, trend = float(ys[0]), 0.0
    for y in ys[1:]:
        new_level = _HOLT_ALPHA * y + (1 - _HOLT_ALPHA) * (level + trend)
        trend = _HOLT_GAMMA * (new_level - level) + (1 - _HOLT_GAMMA) * trend
        level = new_level
    import pandas as pd

    return pd.DataFrame(
        {"n_days": [len(ys)], "level": [level], "trend": [trend]}
    )


@register("events_forecast_holt", oracle=_HOLT_ORACLE, tags=("events", "stats", "udf"))
def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast of the daily event count: double-
    exponential smoothing over the day series, projecting 3 days ahead —
    the capacity-planning one-liner ("where is traffic heading"), next to
    the seasonal decomposition (descriptive) and CUSUM (retrospective).

    The smoothing recursion is inherently sequential, so it runs as the
    sanctioned per-group Arrow fold — the package's one `applyInPandas`
    outside streaming: events reduce to DAY cardinality first, the fold
    sees only that bounded series, and a production variant keys by
    series id (one group per metric — group-level parallelism). The
    oracle replays the identical recurrence as a recursive CTE; both
    engines execute the same float64 expression sequence, so the folded
    state matches bit-for-bit before the output rounding."""
    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    folded = daily.withColumn("g", F.lit(1)).groupBy("g").applyInPandas(
        lambda pdf: _holt_fold(pdf), _HOLT_SCHEMA
    )
    return folded.select(
        "n_days",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round(F.col("level") + 1 * F.col("trend"), 4).alias("forecast_1"),
        F.round(F.col("level") + 2 * F.col("trend"), 4).alias("forecast_2"),
        F.round(F.col("level") + _HOLT_H * F.col("trend"), 4).alias("forecast_3"),
    )


# ---------------------------------------------------- open-order backlog

_BACKLOG_ORACLE = """
WITH complete AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS od, o.o_totalprice,
         coalesce(max(CAST(l.l_shipdate AS DATE)), CAST(o.o_orderdate AS DATE))
           AS done_d
  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice
),
months AS (
  SELECT DISTINCT date_trunc('month', od) AS m FROM complete
)
SELECT strftime(m.m, '%Y-%m') AS month_s,
       count(*) AS n_open,
       round(sum(c.o_totalprice), 2) AS open_value
FROM months m JOIN complete c
  ON c.od < m.m AND c.done_d >= m.m
GROUP BY m.m
ORDER BY month_s
"""


@register("orders_backlog_monthly", oracle=_BACKLOG_ORACLE, tags=("interval", "agg", "join"))
def orders_backlog_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog as of each month start: an order is open from
    its order date until its last lineitem ships; the census joins the
    month spine to the order intervals (placed-before, not-yet-done) —
    the as-of inventory/WIP shape behind every operations dashboard
    ("how much work was in flight on the 1st?").

    Plan: one order-keyed join+agg derives each order's completion date
    (the only fact-sized movement), then the interval census joins the
    CALENDAR-BOUNDED month spine (≤ 84 rows at any SF, broadcast) under
    the open-interval predicate — each order lands in (open-duration in
    months) spine rows, a bounded expansion (TPC-H intervals span weeks
    to months, so ~1-4 rows per order; the daily-grain variant of this
    query multiplies that by 30, which is why the census grain is a
    design knob). Sums are rounded once at the output."""
    t = load_tables(spark, sf_dir)
    complete = (
        t["orders"]
        .join(
            t["lineitem"].select("l_orderkey", F.col("l_shipdate").cast("date").alias("sd")),
            t["orders"]["o_orderkey"] == F.col("l_orderkey"),
            "left",
        )
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.coalesce(
                F.max("sd"), F.col("o_orderdate").cast("date")
            ).alias("done_d")
        )
        .select(
            F.col("o_orderdate").cast("date").alias("od"),
            "o_totalprice",
            "done_d",
        )
    )
    months = complete.select(F.date_trunc("month", "od").alias("m")).distinct()
    return (
        F.broadcast(months)
        .join(
            complete,
            (F.col("od") < F.col("m")) & (F.col("done_d") >= F.col("m")),
        )
        .groupBy(F.date_format("m", "yyyy-MM").alias("month_s"))
        .agg(
            F.count(F.lit(1)).alias("n_open"),
            F.round(F.sum("o_totalprice"), 2).alias("open_value"),
        )
        .orderBy("month_s")
    )


# ------------------------------------------------ daily-series autocorrelation

_AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         round(avg(value), 6) AS mu
  FROM events GROUP BY 1
),
lagged AS (
  SELECT d, mu,
         lag(mu, 1) OVER (ORDER BY d) AS mu_lag1,
         lag(mu, 7) OVER (ORDER BY d) AS mu_lag7
  FROM daily
)
SELECT count(*) AS n_days,
       round(corr(mu, mu_lag1), 6) AS autocorr_lag1,
       round(corr(mu, mu_lag7), 6) AS autocorr_lag7,
       round(corr(mu, mu_lag7), 6) > round(corr(mu, mu_lag1), 6)
         AS weekly_seasonality
FROM lagged
"""


@register("events_autocorr_daily", oracle=_AUTOCORR_ORACLE, tags=("events", "stats"))
def events_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily value series at lags 1 and 7 — the
    seasonality DETECTOR that decides whether the decomposition
    (`orders_seasonal_decompose`) and the forecast horizon (`events_
    forecast_holt`) should carry a weekly term: lag-7 beating lag-1 is
    the weekly-rhythm signature.

    Plan: events reduce once to day cardinality; the lags are one window
    over the calendar-bounded series and corr() is a single moment
    aggregate (NULL lag rows at the head drop out of corr identically in
    both engines). Inputs are pre-rounded daily means, and the seasonality
    boolean compares the two ROUNDED correlations, so the verdict cannot
    flip on a ulp."""
    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.round(F.avg("value"), 6).alias("mu")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "mu",
        F.lag("mu", 1).over(w).alias("mu_lag1"),
        F.lag("mu", 7).over(w).alias("mu_lag7"),
    )
    c1 = F.round(F.corr("mu", "mu_lag1"), 6)
    c7 = F.round(F.corr("mu", "mu_lag7"), 6)
    return lagged.agg(
        F.count(F.lit(1)).alias("n_days"),
        c1.alias("autocorr_lag1"),
        c7.alias("autocorr_lag7"),
        (c7 > c1).alias("weekly_seasonality"),
    )


# ----------------------------------------------- Theil-Sen robust trend

_SEN_ORACLE = """
WITH m AS (
  SELECT (CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS BIGINT) * 12
          + CAST(strftime(CAST(o_orderdate AS DATE), '%m') AS BIGINT)) AS mi,
         round(sum(o_totalprice), 2) AS rev
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT (b.rev - a.rev) / (b.mi - a.mi) AS slope
  FROM m a JOIN m b ON a.mi < b.mi
)
SELECT (SELECT count(*) FROM m) AS n_months,
       count(*) AS n_pairs,
       round(quantile_cont(slope, 0.5), 4) AS sen_slope,
       round(quantile_cont(slope, 0.5), 4) > 0 AS rising
FROM pairs
"""


@register("orders_sen_trend", oracle=_SEN_ORACLE, tags=("agg", "stats", "event-time"))
def orders_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly revenue: the MEDIAN of all
    pairwise month-to-month slopes — the estimator that shrugs off the
    outlier months an OLS line (the `events_forecast_holt` /
    `events_user_activity_zipf` regr_* family) gets dragged by; up to
    ~29% contamination moves it not at all. The robust-statistics
    completion of the trend toolkit: OLS for clean series, CUSUM for
    level SHIFTS, Theil-Sen for the slope when single months lie.

    Plan: the pair relation is a self-join of the MONTH series on an
    inequality — month cardinality is CALENDAR-bounded (it grows with
    wall-clock span, never with data volume), so the broadcast
    nested-loop pairing is O(months²) ≈ thousands of rows at any SF;
    the revenue reduction to months is the only data-sized pass. Slopes
    divide round(2) revenues by integer month gaps — engine-identical
    doubles — and the median interpolates identically before round(4)."""
    orders = load_tables(spark, sf_dir)["orders"]
    m = (
        orders.groupBy(
            (
                F.year(F.col("o_orderdate").cast("date")) * 12
                + F.month(F.col("o_orderdate").cast("date"))
            ).alias("mi")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    a = m.select(F.col("mi").alias("mi_a"), F.col("rev").alias("rev_a"))
    b = m.select(F.col("mi").alias("mi_b"), F.col("rev").alias("rev_b"))
    pairs = a.join(
        F.broadcast(b), F.col("mi_a") < F.col("mi_b")
    ).select(
        (
            (F.col("rev_b") - F.col("rev_a"))
            / (F.col("mi_b") - F.col("mi_a"))
        ).alias("slope")
    )
    n_months = m.agg(F.count(F.lit(1)).alias("n_months"))
    sen = F.round(F.expr("percentile(slope, 0.5)"), 4)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        sen.alias("sen_slope"),
        (sen > 0).alias("rising"),
    ).crossJoin(F.broadcast(n_months)).select(
        "n_months", "n_pairs", "sen_slope", "rising"
    )


# ------------------------------------- cross-type daily correlation matrix

_TYPE_CORR_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, event_type,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.v AS x, b.v AS y
  FROM daily a JOIN daily b ON a.d = b.d AND a.event_type < b.event_type
),
moments AS (
  SELECT type_a, type_b, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT type_a, type_b, CAST(n AS BIGINT) AS n_days,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
         AS pearson_r
FROM moments
ORDER BY type_a, type_b
"""


@register("events_type_corr_matrix", oracle=_TYPE_CORR_ORACLE, tags=("event-time", "stats"))
def events_type_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the event types' DAILY value
    series — the co-movement matrix behind metric dashboards ("do
    purchases track clicks?") and the input to any factor/anomaly model
    over KPIs; `events_autocorr_daily` measures a series against its own
    past, this measures the types against each other.

    Plan: one partial-agg'd shuffle collapses events to the (day, type)
    grid (calendar-x-arity bounded); the pair expansion is a self equi-
    join ON DAY of that bounded grid under type_a < type_b (each day
    emits C(k,2) pairs, k = type arity — never a cartesian over
    SF-sized data), and the correlation reduces to one moment aggregate
    per pair. Daily totals are pre-rounded at 2 (sums of 2-decimal
    inputs — no half-tie hazard), the statistic re-rounded at 4."""
    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).agg(F.round(F.sum("value"), 2).alias("v"))
    a = daily.select(
        "d", F.col("event_type").alias("type_a"), F.col("v").alias("x")
    )
    b = daily.select(
        "d", F.col("event_type").alias("type_b"), F.col("v").alias("y")
    )
    pairs = a.join(b, "d").filter(F.col("type_a") < F.col("type_b"))
    m = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "type_a",
        "type_b",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(r, 4).alias("pearson_r"),
    ).orderBy("type_a", "type_b")


# --------------------------------------------------- 7-day moving median

_MOVMED_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1
)
SELECT strftime(d, '%Y-%m-%d') AS day_s, v AS total_value,
       round(median(v) OVER (ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
         AS median_7d
FROM daily
ORDER BY day_s
"""


@register("events_moving_median_7d", oracle=_MOVMED_ORACLE, tags=("event-time", "window-fn", "stats"))
def events_moving_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving MEDIAN of daily event value — the robust
    smoother (a single spike day shifts a moving average, not a moving
    median) paired with `events_anomaly_mad`'s robust spread. Spark has
    no median window function; over the calendar-bounded day axis the
    exact frame median is a collect-sort-pick over at most 7 elements
    (`array_sort` + middle / mean-of-middles, DuckDB's even-count
    interpolation convention), still pure JVM codegen.

    Plan: one partial-agg'd shuffle to the day axis; the window runs on
    calendar-bounded rows (plan-audit allowlisted). Daily totals are
    pre-rounded at 2; both engines average the SAME two middle doubles,
    so the final round at 4 agrees."""
    from pyspark.sql import Window

    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.round(F.sum("value"), 2).alias("v")
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    med = F.expr(
        "CASE WHEN size(ws) % 2 = 1"
        " THEN element_at(array_sort(ws), CAST((size(ws) + 1) div 2 AS INT))"
        " ELSE (element_at(array_sort(ws), CAST(size(ws) div 2 AS INT))"
        "       + element_at(array_sort(ws),"
        "                    CAST(size(ws) div 2 + 1 AS INT))) / 2.0 END"
    )
    return (
        daily.withColumn("ws", F.collect_list("v").over(w))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day_s"),
            F.col("v").alias("total_value"),
            F.round(med, 4).alias("median_7d"),
        )
        .orderBy("day_s")
    )
