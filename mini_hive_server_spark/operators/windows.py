"""Event-time processing on the `events` fixture — SURVEY.md §2.9/§7 step 6.

The reference has no streaming operators (request/response only); its
notifications feed (index.js:53-60 write, 226-238 read) is an append-only
time-desc stream. The driver's `events` table is the designated surface for
idiomatic Spark event-time ops. Batch forms here are oracle-checked; the
Structured Streaming variants live in `mini_hive_server_spark.streaming`
(memory-sink tested, not oracle-gated).

Determinism: events.ts has nanosecond precision; Spark truncates to µs on
read. Every oracle first casts ts to µs (`CAST(ts AS TIMESTAMP)`) so both
engines bucket/order the same values, and window starts are emitted as
formatted strings.

Scale notes: tumbling/sliding windows are hash-aggregations on
(window, keys) — partial-aggregated, shuffle carries combined state.
Sessionization uses a per-user sort window; at 100 TB the partition key
(user_id) distributes it, with AQE skew-split for hot users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables, ntz_micros
from ..registry import register

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

_TUMBLING_ORACLE = f"""
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '{_TS_FMT_DUCK}') AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("events_tumbling_hourly", oracle=_TUMBLING_ORACLE, tags=("event-time", "headline"))
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation via `F.window` — the canonical
    event-time rollup (batch form; streaming twin in streaming/)."""
    events = load_tables(spark, sf_dir)["events"]
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


_SLIDING_ORACLE = f"""
WITH slid AS (
  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
           - k.k * INTERVAL '30 minutes' AS w_start,
         value
  FROM events, (VALUES (0), (1)) k(k)
)
SELECT strftime(w_start, '{_TS_FMT_DUCK}') AS window_start,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM slid
GROUP BY 1
ORDER BY 1
"""


@register("events_sliding_window", oracle=_SLIDING_ORACLE, tags=("event-time",))
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide): each event lands in 2
    windows. Spark's `window(ts, len, slide)` expands rows internally; the
    oracle reproduces it with an explicit 2-offset expansion."""
    events = load_tables(spark, sf_dir)["events"]
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "n",
            "total_value",
        )
        .orderBy("window_start")
    )


_SESSION_GAP_US = 1_800_000_000  # 30-minute inactivity gap, microseconds


def session_flags(events: DataFrame, *cols: str) -> DataFrame:
    """(user_id, event_id, *cols, ts, new_session) — the 30-min-gap
    gaps-and-islands session-start flag, the one Spark definition every
    batch sessionizer reads (events_sessionize here; top-paths and
    bounce-rate in behavior.py), so the sessionizers cannot diverge on
    the boundary. `SESSION_FLAGS_SQL` is its oracle twin. Microsecond
    precision on purpose: unix_timestamp truncates to whole seconds and
    misclassifies gaps within ~1 s of the 30-min boundary (the events
    fixture carries sub-second micros)."""
    prev = F.lag("ts").over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
    gap_us = ntz_micros("ts") - ntz_micros(prev)
    flag = F.when(prev.isNull() | (gap_us > _SESSION_GAP_US), 1).otherwise(0)
    return events.select("user_id", "event_id", *cols, "ts", flag.alias("new_session"))


def sessionized(events: DataFrame, *cols: str) -> DataFrame:
    """session_flags + the running-sum session id (`sid`, dense per
    user): the full gaps-and-islands sessionizer for consumers that
    need per-session grouping keys."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return session_flags(events, *cols).withColumn("sid", F.sum("new_session").over(run))


# the oracles' `ordered(user_id, event_id, event_type, t, new_session)`
# CTE over events: the twin of session_flags
SESSION_FLAGS_SQL = f"""ordered AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR epoch_us(CAST(ts AS TIMESTAMP))
                   - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
)"""

_SESSION_ORACLE = f"""
WITH {SESSION_FLAGS_SQL}
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM ordered
GROUP BY user_id
ORDER BY user_id
"""


@register("events_sessionize", oracle=_SESSION_ORACLE, tags=("event-time", "window-fn"))
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) as gaps-and-islands: lag +
    conditional flag + per-user count. A gap of exactly 30 minutes stays
    in the session here (`>`); the streaming module's native
    `session_window` form (`streaming_sessionize`) uses a half-open
    interval and starts a new session at exactly 30 minutes (`>=`), so
    the two agree except on gaps of exactly the threshold."""
    events = load_tables(spark, sf_dir)["events"]
    flagged = session_flags(events)
    return (
        flagged.groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_RUNNING_ORACLE = """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id
                              ORDER BY CAST(ts AS TIMESTAMP), event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_value
FROM events
WHERE user_id < 10
ORDER BY user_id, event_id
"""


@register("events_running_total", oracle=_RUNNING_ORACLE, tags=("event-time", "window-fn"))
def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total ordered by event time — the frame-based window
    aggregate surface (ROWS UNBOUNDED PRECEDING)."""
    events = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.filter(F.col("user_id") < 10)
        .select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 2).alias("running_value"),
        )
        .orderBy("user_id", "event_id")
    )


_PIVOT_ORACLE = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'view')     AS view,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'error')    AS error
FROM events
WHERE user_id < 20
GROUP BY user_id
ORDER BY user_id
"""


@register("events_type_pivot", oracle=_PIVOT_ORACLE, tags=("event-time", "pivot"))
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → columns with an explicit value list (never let
    pivot infer values at scale — that's an extra distinct scan)."""
    events = load_tables(spark, sf_dir)["events"]
    return (
        events.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
        .orderBy("user_id")
    )


_UNPIVOT_ORACLE = """
SELECT user_id, event_type, count(*) AS n
FROM events
WHERE user_id < 20
  -- pinned to the pivot's explicit 5-type list: the Spark side
  -- round-trips through pivot(values=[...]) and would silently drop a
  -- 6th type a future fixture vintage added, while an unpinned oracle
  -- would include it — keep the pair symmetric
  AND event_type IN ('click', 'view', 'purchase', 'signup', 'error')
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


@register("events_type_unpivot", oracle=_UNPIVOT_ORACLE, tags=("event-time", "pivot"))
def events_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): melt the pivoted per-type count columns back
    to (user_id, event_type, n) rows — the inverse of `events_type_pivot`,
    proving the round trip. `unpivot` is a map-only Expand (each input row
    fans out to one row per value column, no shuffle); dropping the
    zero-count fill recovers exactly the long-form groupBy."""
    events = load_tables(spark, sf_dir)["events"]
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        events.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0)
    )
    return (
        wide.unpivot("user_id", types, "event_type", "n")
        .filter(F.col("n") > 0)
        .orderBy("user_id", "event_type")
    )


_PERCENTILES_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.50), 4) AS p50,
       round(quantile_cont(value, 0.75), 4) AS p75,
       round(quantile_cont(value, 0.95), 4) AS p95
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("events_value_percentiles", oracle=_PERCENTILES_ORACLE, tags=("event-time", "agg"))
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles per group (`percentile`, linear interpolation at
    rank p·(n-1) — the same definition as DuckDB's quantile_cont, so the
    two engines agree to rounding). The exact aggregate buffers each
    group's values, which is the honest truth tier next to
    `sketch_approx_quantiles` (approx_percentile / t-digest): at 100 TB
    use the sketch for dashboards and reserve exact percentiles for
    bounded groups — per-group state here is the group's value list, and
    the final per-group sort happens once in the merge."""
    events = load_tables(spark, sf_dir)["events"]
    pct = F.expr("percentile(value, array(0.25D, 0.50D, 0.75D, 0.95D))")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(pct[0], 4).alias("p25"),
            F.round(pct[1], 4).alias("p50"),
            F.round(pct[2], 4).alias("p75"),
            F.round(pct[3], 4).alias("p95"),
        )
        .orderBy("event_type")
    )


_LAG_DELTA_ORACLE = f"""
WITH o AS (
  SELECT user_id,
         CAST(ts AS TIMESTAMP) AS tsu,
         event_id,
         value,
         lag(value)  OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_value,
         lead(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_value
  FROM events
)
SELECT user_id,
       strftime(tsu, '{_TS_FMT_DUCK}') AS ts_s,
       event_id,
       round(value - coalesce(prev_value, value), 2) AS delta_prev,
       round(coalesce(next_value, value) - value, 2) AS delta_next
FROM o
WHERE user_id < 5
ORDER BY user_id, tsu, event_id
"""


@register("events_lag_delta", oracle=_LAG_DELTA_ORACLE, tags=("event-time", "window-fn"))
def events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas per user over event time — change detection, the
    window-function pair the running total doesn't cover. One hash
    exchange on user_id; event_id breaks timestamp ties so both engines
    order identically."""
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.filter(F.col("user_id") < 5)
        .select(
            "user_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
            "event_id",
            F.round(
                F.col("value") - F.coalesce(F.lag("value").over(w), F.col("value")), 2
            ).alias("delta_prev"),
            F.round(
                F.coalesce(F.lead("value").over(w), F.col("value")) - F.col("value"), 2
            ).alias("delta_next"),
        )
        .orderBy("user_id", "ts_s", "event_id")
    )


_NTILE_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
  FROM events
)
SELECT event_type, quartile,
       count(*) AS n,
       round(min(value), 2) AS lo,
       round(max(value), 2) AS hi
FROM ranked
GROUP BY event_type, quartile
ORDER BY event_type, quartile
"""


@register("events_ntile_quartiles", oracle=_NTILE_ORACLE, tags=("event-time", "window-fn"))
def events_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) bucketing per event type with per-quartile ranges —
    rank-family window coverage (row_number lives in topk_per_group,
    lag/lead above). event_id tie-break keeps bucket boundaries identical
    across engines."""
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        events.select("event_type", "value", F.ntile(4).over(w).alias("quartile"))
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("event_type", "quartile")
    )


_DATE_PARTS_ORACLE = """
SELECT CAST(extract(dow FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
       CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod,
       count(*) AS n,
       floor(CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) / 10000 + 0.5) / 100.0 AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("events_date_parts", oracle=_DATE_PARTS_ORACLE, tags=("event-time", "scalar"))
def events_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar decomposition (day-of-week x hour-of-day heatmap input) —
    the date-part extraction surface the reference never computes on
    (completion_date stored but unused, index.js:499). DuckDB's dow is
    0=Sunday; Spark's dayofweek is 1=Sunday, so shift by one.

    avg_value is not round(avg(double)): that is a boundary lottery —
    accumulation order can move the mean across a .xx5 tie, and the
    engines' tie handling differs. Instead, quantize to
    integer micro-units per row (one identical IEEE fold), sum as BIGINT,
    divide by the BIGINT count, and floor-round — every op sees
    bit-identical operands on both engines, so no boundary exists."""
    events = load_tables(spark, sf_dir)["events"]
    return (
        events.select(
            (F.dayofweek("ts") - 1).alias("dow"),
            F.hour("ts").alias("hod"),
            F.floor(F.col("value") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("vm"),
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.floor(
                    F.sum("vm").cast("double")
                    / F.count(F.lit(1))
                    / F.lit(10000)
                    + F.lit(0.5)
                )
                / 100.0
            ).alias("avg_value"),
        )
        .orderBy("dow", "hod")
    )


_ASOF_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu
  FROM events WHERE user_id < 5
),
carried AS (
  SELECT user_id, event_id, tsu,
         max(CASE WHEN event_type = 'click' THEN tsu END)
           OVER (PARTITION BY user_id ORDER BY tsu, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
  FROM e
)
SELECT user_id, event_id,
       strftime(tsu, '{_TS_FMT_DUCK}') AS ts_s,
       coalesce(strftime(last_click, '{_TS_FMT_DUCK}'), 'never') AS last_click_s,
       CAST(coalesce(date_diff('second', last_click, tsu), -1) AS BIGINT) AS secs_since_click
FROM carried
ORDER BY user_id, tsu, event_id
"""


@register("events_asof_last_click", oracle=_ASOF_ORACLE, tags=("event-time", "window-fn", "asof"))
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively): each event picks up
    the most recent STRICTLY-PRIOR 'click' by the same user. For the
    self-as-of case the cheapest plan is not a join at all — a running
    `max(when(...))` window with a 1-preceding frame carries the last
    click timestamp forward in one sort per user partition. A two-table
    as-of is the same shape after a union-and-tag: tag both inputs, union,
    one window pass, filter to the probe side — still a single shuffle on
    the key, never a range cross-join. (DuckDB's native ASOF JOIN is the
    oracle's spelling of the same semantics.)"""
    events = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        events.filter(F.col("user_id") < 5)
        .select(
            "user_id",
            "event_id",
            F.col("ts"),
            last_click.alias("last_click"),
        )
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
            F.coalesce(
                F.date_format("last_click", _TS_FMT_SPARK), F.lit("never")
            ).alias("last_click_s"),
            F.coalesce(
                (F.unix_timestamp("ts") - F.unix_timestamp("last_click")),
                F.lit(-1),
            ).alias("secs_since_click"),
        )
        .orderBy("user_id", "ts_s", "event_id")
    )


_ROLLUP_2LEVEL_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         event_type,
         count(*) AS n,
         sum(value) AS v
  FROM events
  GROUP BY 1, 2
)
SELECT strftime(date_trunc('day', h), '%Y-%m-%d') AS day,
       event_type,
       CAST(sum(n) AS BIGINT) AS n,
       round(sum(v), 2) AS total_value
FROM hourly
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("events_rollup_two_level", oracle=_ROLLUP_2LEVEL_ORACLE, tags=("event-time", "agg", "rollup"))
def events_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the daily rollup is computed
    FROM the hourly partials, not from raw events — the pattern that makes
    multi-resolution dashboards O(hours) instead of O(events) at refresh
    time. Counts/sums re-associate so the result is identical to a direct
    daily aggregate (the oracle proves it); at 100 TB the hourly relation
    is a materialized incremental table and each coarser level reads the
    finer one."""
    events = load_tables(spark, sf_dir)["events"]
    hourly = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "h"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.sum("n").alias("n"), F.round(F.sum("v"), 2).alias("total_value"))
        .orderBy("day", "event_type")
    )


# ------------------------------------- forward as-of join with tolerance

_ASOF_TOLERANCE_S = 600  # only a next-error within 10 min counts

_ASOF_FWD_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu
  FROM events WHERE user_id < 5
),
carried AS (
  SELECT user_id, event_id, event_type, tsu,
         min(CASE WHEN event_type = 'error' THEN tsu END)
           OVER (PARTITION BY user_id ORDER BY tsu, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_err
  FROM e
),
scored AS (
  SELECT user_id, event_id, tsu, next_err,
         CAST(date_diff('second', tsu, next_err) AS BIGINT) AS secs
  FROM carried WHERE event_type = 'purchase'
)
SELECT user_id, event_id,
       strftime(tsu, '{_TS_FMT_DUCK}') AS ts_s,
       CASE WHEN secs IS NOT NULL AND secs <= {_ASOF_TOLERANCE_S}
            THEN strftime(next_err, '{_TS_FMT_DUCK}') ELSE 'none' END
         AS next_error_s,
       CASE WHEN secs IS NOT NULL AND secs <= {_ASOF_TOLERANCE_S}
            THEN secs ELSE -1 END AS secs_to_error
FROM scored
ORDER BY user_id, tsu, event_id
"""


@register(
    "events_asof_next_error",
    oracle=_ASOF_FWD_ORACLE,
    tags=("event-time", "window-fn", "asof"),
)
def events_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance (pandas merge_asof
    direction='forward' semantics): each purchase picks up the next
    'error' by the same user, but only if it lands within 10 minutes —
    the does-this-action-precede-a-failure probe. Same algebra as the
    backward as-of (`events_asof_last_click`) mirrored: a min-over-
    following window carries the next error backward in ONE sort per
    user partition; the tolerance is a post-window comparison, applied
    AFTER nearest-match selection (merge_asof's contract: the nearest
    forward match either qualifies or there is no match — a farther
    error must not be substituted). Still a single key shuffle, never a
    time-range cross-join; a two-table forward as-of is the same plan
    after union-and-tag."""
    events = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_err = F.min(
        F.when(F.col("event_type") == "error", F.col("ts"))
    ).over(w)
    scored = (
        events.filter(F.col("user_id") < 5)
        .select(
            "user_id",
            "event_id",
            "event_type",
            "ts",
            next_err.alias("next_err"),
        )
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "secs", F.unix_timestamp("next_err") - F.unix_timestamp("ts")
        )
    )
    within = F.col("secs").isNotNull() & (F.col("secs") <= _ASOF_TOLERANCE_S)
    return scored.select(
        "user_id",
        "event_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        F.when(within, F.date_format("next_err", _TS_FMT_SPARK))
        .otherwise("none")
        .alias("next_error_s"),
        F.when(within, F.col("secs")).otherwise(F.lit(-1)).alias("secs_to_error"),
    ).orderBy("user_id", "ts_s", "event_id")


# ------------------------------------- RANGE-frame trailing aggregates

_TRAIL_RANGE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu,
         -- whole-second epoch ordering: Spark's rangeBetween runs over
         -- unix_timestamp (floored seconds), so the frame boundary must
         -- be measured on the SAME truncated axis — a full-precision
         -- interval frame would exclude events 3600<d<3601s back that
         -- Spark includes
         CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP))) AS BIGINT)
           AS tse,
         value
  FROM events WHERE user_id < 5
)
SELECT user_id, event_id,
       strftime(tsu, '{_TS_FMT_DUCK}') AS ts_s,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing,
       round(sum(value) OVER w, 2) AS trailing_value
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY tse
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY user_id, tsu, event_id
"""


@register(
    "events_trailing_window_range",
    oracle=_TRAIL_RANGE_ORACLE,
    tags=("event-time", "window-fn"),
)
def events_trailing_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame trailing aggregate: at every event, the count and
    value-sum of the SAME USER's events in the trailing hour — a frame
    bounded by event-TIME distance, not row count (ROWS frames answer
    "last N events"; RANGE frames answer "last hour", the
    rate-limiting / velocity-check shape). Spark spells interval frames
    as `rangeBetween` over the epoch-seconds ordering column (the frame
    offset is in the ordering column's units); ties in the ordering value
    are PEER ROWS — both engines include all peers in the frame, which is
    what keeps the two plans value-identical without a unique-key
    tiebreak inside the frame.

    Plan: one hash exchange on user_id + one sort — same single-shuffle
    shape as every per-key window here; at 100 TB the frame state is
    bounded by one hour of one user's events."""
    events = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return (
        events.filter(F.col("user_id") < 5)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
            F.count(F.lit(1)).over(w).alias("n_trailing"),
            F.round(F.sum("value").over(w), 2).alias("trailing_value"),
        )
        .orderBy("user_id", "ts_s", "event_id")
    )


# ------------------------------------------- order-to-ship latency profile

_SHIP_LATENCY_ORACLE = """
WITH lat AS (
  SELECT o.o_orderpriority,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS lat_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n,
       round(quantile_cont(lat_days, 0.50), 4) AS p50,
       round(quantile_cont(lat_days, 0.90), 4) AS p90,
       round(quantile_cont(lat_days, 0.99), 4) AS p99,
       CAST(max(lat_days) AS BIGINT) AS max_days
FROM lat
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("orders_ship_latency_percentiles", oracle=_SHIP_LATENCY_ORACLE, tags=("agg", "stats"))
def orders_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLO profile: exact p50/p90/p99 of the
    orderdate→shipdate lag per order priority — the fulfillment-latency
    dashboard every ops team runs, and the percentile-over-a-JOIN shape
    (latency is a derived column crossing two tables, not a stored one).

    Plan: one equi-join on the order key (both sides pruned to 2-3
    columns), latency computed map-side, then one partial-agg'd
    percentile aggregate per priority (Spark's exact `percentile` keeps
    a per-group digest; 5 priority groups). The exact tier is the
    contract; `sketch_approx_quantiles` is the documented 100 TB degrade
    path when per-group cardinality makes exact digests too heavy."""
    t = load_tables(spark, sf_dir)
    lat = (
        t["lineitem"]
        .select("l_orderkey", F.col("l_shipdate").cast("date").alias("sd"))
        .join(
            t["orders"].select(
                "o_orderkey",
                "o_orderpriority",
                F.col("o_orderdate").cast("date").alias("od"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_orderpriority", F.datediff("sd", "od").alias("lat_days")
        )
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(lat_days, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(lat_days, 0.90)"), 4).alias("p90"),
            F.round(F.expr("percentile(lat_days, 0.99)"), 4).alias("p99"),
            F.max("lat_days").cast("bigint").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


# ------------------------------- BACKWARD as-of with tolerance (attribution)

_ASOF_BWD_TOLERANCE_S = 1800  # only a click within 30 min earns credit

_ASOF_BWD_TOL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu
  FROM events WHERE user_id < 5
),
carried AS (
  SELECT user_id, event_id, event_type, tsu,
         max(CASE WHEN event_type = 'click' THEN tsu END)
           OVER (PARTITION BY user_id ORDER BY tsu, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click
  FROM e
),
scored AS (
  SELECT user_id, event_id, tsu, prev_click,
         CAST(date_diff('second', prev_click, tsu) AS BIGINT) AS secs
  FROM carried WHERE event_type = 'purchase'
)
SELECT user_id, event_id,
       strftime(tsu, '{_TS_FMT_DUCK}') AS ts_s,
       CASE WHEN secs IS NOT NULL AND secs <= {_ASOF_BWD_TOLERANCE_S}
            THEN strftime(prev_click, '{_TS_FMT_DUCK}') ELSE 'none' END
         AS prev_click_s,
       CASE WHEN secs IS NOT NULL AND secs <= {_ASOF_BWD_TOLERANCE_S}
            THEN secs ELSE -1 END AS secs_since_click
FROM scored
ORDER BY user_id, ts_s, event_id
"""


@register(
    "events_asof_prev_click_tol",
    oracle=_ASOF_BWD_TOL_ORACLE,
    tags=("event-time", "window-fn", "asof"),
)
def events_asof_prev_click_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKWARD as-of join with tolerance (pandas merge_asof
    direction='backward' + tolerance — the remaining cell of the as-of
    matrix next to `events_asof_last_click` backward/no-tolerance and
    `events_asof_next_error` forward/tolerance): each purchase attributes
    to the most recent prior 'click', but only if it happened within 30
    minutes — last-touch attribution with an expiry window, as a window
    function instead of the join `events_click_attribution` ships.

    merge_asof's tolerance contract: the NEAREST prior match either
    qualifies or there is no match — an older within-window click must
    not be substituted — so the tolerance applies AFTER the max-over-
    preceding selection. Both engines measure the gap on the truncated-
    seconds axis (unix_timestamp == date_diff('second')), the same
    axis-parity rule `events_trailing_window_range` documents. One key
    shuffle, one sort per user partition, never a time-range cross-join."""
    events = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    scored = (
        events.filter(F.col("user_id") < 5)
        .select(
            "user_id",
            "event_id",
            "event_type",
            "ts",
            prev_click.alias("prev_click"),
        )
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "secs", F.unix_timestamp("ts") - F.unix_timestamp("prev_click")
        )
    )
    within = F.col("secs").isNotNull() & (F.col("secs") <= _ASOF_BWD_TOLERANCE_S)
    return scored.select(
        "user_id",
        "event_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        F.when(within, F.date_format("prev_click", _TS_FMT_SPARK))
        .otherwise("none")
        .alias("prev_click_s"),
        F.when(within, F.col("secs")).otherwise(F.lit(-1)).alias("secs_since_click"),
    ).orderBy("user_id", "ts_s", "event_id")


# ---------------------------------------------------- rank-function family

_RANK_FAMILY_ORACLE = """
WITH per_user AS (
  SELECT event_type, user_id, round(sum(value), 2) AS total
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, user_id, total,
         dense_rank() OVER w AS dr,
         round(percent_rank() OVER w, 6) AS pr,
         round(cume_dist() OVER w, 6) AS cd,
         coalesce(nth_value(total, 2) OVER (PARTITION BY event_type
                                   ORDER BY total DESC, user_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING), -1.0)
           AS second_best
  FROM per_user
  WINDOW w AS (PARTITION BY event_type ORDER BY total DESC, user_id)
)
SELECT event_type, user_id, total, CAST(dr AS BIGINT) AS dr, pr, cd, second_best
FROM ranked
WHERE dr <= 3
ORDER BY event_type, dr, user_id
"""


@register("events_rank_functions", oracle=_RANK_FAMILY_ORACLE, tags=("window-fn", "agg"))
def events_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANSI rank-function family in one leaderboard: per event
    type, users ranked by total value with `dense_rank` (podium places),
    `percent_rank` (relative standing), `cume_dist` (fraction at or
    above), and `nth_value` (the runner-up's total alongside every row) —
    the remaining window functions the registry's row_number/ntile/lag/
    lead/range-frame queries don't cover, each with DuckDB-identical ANSI
    semantics.

    Plan: events reduce to (type, user) cardinality in one partial-agg'd
    shuffle; all four functions share ONE window sort per type
    (nth_value's full-partition frame rides the same ordering). Ranks
    order by the ROUNDED total with the user tiebreak, so ordering —
    and therefore every rank value — is engine-identical."""
    events = load_tables(spark, sf_dir)["events"]
    per_user = events.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("total")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("total").desc(), "user_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        per_user.select(
            "event_type",
            "user_id",
            "total",
            F.dense_rank().over(w).cast("bigint").alias("dr"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            # coalesce to -1.0: a single-user event_type partition has no
            # runner-up, and a NULL double violates the registry's
            # no-NULL-floats-out rule (NULL doubles render as NaN through
            # toPandas; same convention as events_asof_prev_click_tol)
            F.coalesce(
                F.nth_value("total", 2).over(wfull), F.lit(-1.0)
            ).alias("second_best"),
        )
        .filter(F.col("dr") <= 3)
        .orderBy("event_type", "dr", "user_id")
    )


# ----------------------------------------------------- monthly SLA attainment

_SLA_DAYS = 30  # order -> ship SLA

_SLA_TREND_ORACLE = f"""
WITH lat AS (
  SELECT strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') AS month_s,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT month_s,
       count(*) AS n_lines,
       count(*) FILTER (WHERE days <= {_SLA_DAYS}) AS n_within_sla,
       round(count(*) FILTER (WHERE days <= {_SLA_DAYS}) * 100.0 / count(*), 2)
         AS sla_pct
FROM lat
GROUP BY month_s
ORDER BY month_s
"""


@register("orders_sla_attainment_monthly", oracle=_SLA_TREND_ORACLE, tags=("agg", "join"))
def orders_sla_attainment_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly SLA attainment trend: share of lineitems shipped within 30
    days of their order, per order month — the time axis the SLO
    percentile digest (`orders_ship_latency_percentiles`) lacks: the
    percentiles say how bad the tail is NOW, this says whether attainment
    is drifting.

    Plan: one order-keyed join (AQE strategy; the pruned 2-column order
    side), then a month-cardinality conditional aggregate — latency never
    materializes beyond the map side. Integer day arithmetic on CAST
    dates."""
    t = load_tables(spark, sf_dir)
    lat = t["lineitem"].join(
        t["orders"].select("o_orderkey", "o_orderdate"),
        t["lineitem"]["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month_s"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    return (
        lat.groupBy("month_s")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(F.when(F.col("days") <= _SLA_DAYS, 1)).alias("n_within_sla"),
            F.round(
                F.count(F.when(F.col("days") <= _SLA_DAYS, 1)) * 100.0
                / F.count(F.lit(1)),
                2,
            ).alias("sla_pct"),
        )
        .orderBy("month_s")
    )


# -------------------------------------------- supplier lead-time consistency

_LEADTIME_ORACLE = """
WITH lat AS (
  SELECT l.l_suppkey,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_supp AS (
  SELECT l_suppkey, count(*) AS n_shipments,
         floor((sum(CAST(days AS BIGINT)) / count(*)) * 1000000.0 + 0.5)
           / 1000000.0 AS mean_days,
         round(stddev_samp(days), 6) AS sd_days
  FROM lat GROUP BY l_suppkey
  HAVING count(*) >= 20
)
SELECT s.s_name, p.n_shipments, p.mean_days, p.sd_days,
       floor((p.sd_days / p.mean_days) * 1000000.0 + 0.5)
         / 1000000.0 AS cv
FROM per_supp p JOIN supplier s ON p.l_suppkey = s.s_suppkey
ORDER BY cv, s.s_name
LIMIT 15
"""


@register("supplier_leadtime_consistency", oracle=_LEADTIME_ORACLE, tags=("agg", "join"))
def supplier_leadtime_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier lead-time consistency scorecard: coefficient of variation
    (sd/mean) of order→ship days per supplier, most-consistent-first —
    procurement cares about PREDICTABILITY as much as speed (a supplier
    averaging 20±2 days beats one averaging 15±15), which no mean-only
    ranking captures. Suppliers under 20 shipments are excluded (their
    cv is noise).

    Plan: one order-keyed join (pruned columns), one supplier-cardinality
    moment aggregate, a broadcast-joined name lookup, and a top-15 with
    the name tiebreak. cv divides two pre-rounded moments — identical
    operands in both engines."""
    t = load_tables(spark, sf_dir)
    lat = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            t["lineitem"]["l_orderkey"] == F.col("o_orderkey"),
        )
        .select(
            "l_suppkey",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("days"),
        )
    )
    per_supp = (
        lat.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_shipments"),
            # exact integer-moments mean: sum(int days)/count is one
            # deterministic IEEE division, displayed via the pure-IEEE
            # fold (see the money-discipline comment in plans/tpch.py);
            # sd_days keeps round(stddev,6) — the documented residual
            # (integer-moment stddev would overflow ANSI bigint at
            # extreme per-key cardinality)
            (
                F.floor(
                    (F.sum(F.col("days").cast("bigint")) / F.count(F.lit(1)))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("mean_days"),
            F.round(F.stddev_samp("days"), 6).alias("sd_days"),
        )
        .filter(F.col("n_shipments") >= 20)
    )
    return (
        per_supp.join(
            t["supplier"].select("s_suppkey", "s_name"),
            per_supp["l_suppkey"] == F.col("s_suppkey"),
        )
        .select(
            "s_name",
            "n_shipments",
            "mean_days",
            "sd_days",
            # identical operands both sides → one deterministic division,
            # displayed via the pure-IEEE fold
            (
                F.floor(
                    (F.col("sd_days") / F.col("mean_days")) * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("cv"),
        )
        .orderBy("cv", "s_name")
        .limit(15)
    )
