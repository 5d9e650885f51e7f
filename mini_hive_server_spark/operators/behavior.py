"""User-behavior analytics over the events stream — cohort retention and
ordered funnels (extension; product-analytics workhorses the reference's
event feed would grow into — its closest analog is the notifications/
activity read path, index.js:226-238).

Both are classic "needs the whole history per user" shapes, and both
reduce to partial-agg'd groupBys + one user-keyed join — no windows over
the raw stream, no per-user collect. At 100 TB the user_id hash exchange
is the only data movement, and both sides of each join are already
aggregates (rows = users, not events) by the time they shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import register
from .windows import SESSION_FLAGS_SQL, sessionized


def _cents(col: "F.Column | str") -> "F.Column":
    """The exact-money fold: ``floor(x*100 + 0.5) -> BIGINT`` — one
    identical IEEE op sequence in both engines, applied BEFORE any
    aggregation so partial sums re-associate exactly. The one
    definition every money fold in this module reads. NOTE:
    floor(x*100+0.5) is round-HALF-UP, not half-away-from-zero — fine
    for the always-positive money columns this file folds; a negative-
    amount column needs a sign-split first."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + F.lit(0.5)).cast("long")


def _md5_bucket(col: "F.Column", n: "int | F.Column") -> "F.Column":
    """Engine-stable deterministic bucket in [0, n): the first 8 hex
    digits of md5 as an integer, mod n — the same split family as
    text_hash_split; the A/B arms, CUPED, OOF folds and negative
    sampling all read this one expression, so their splits agree."""
    m = F.lit(n) if isinstance(n, int) else n
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"), m
    )


def _arm_moments(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(a, b) per-arm moment relations for the click-vs-view A/B pair —
    n / rounded mean / rounded var per arm, arm A = click, arm B = view.
    Shared by the t-test and the power analysis: the
    power sizing must use EXACTLY the arm definition and rounding grid
    the t-test tests, or the sample-size answer quietly stops matching
    the test it is sizing."""
    g = (
        events.filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("mean"),
            F.round(F.var_samp("value"), 6).alias("var"),
        )
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    return a, b

_RETENTION_ORACLE = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS cohort_w
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS w
  FROM events
)
SELECT strftime(f.cohort_w, '%Y-%m-%d') AS cohort_week,
       date_diff('day', f.cohort_w, a.w) // 7 AS week_offset,
       count(*) AS n_users
FROM activity a JOIN first_seen f ON a.user_id = f.user_id
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
"""


@register("events_retention_cohorts", oracle=_RETENTION_ORACLE, tags=("events", "agg"))
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-seen week,
    counted in every subsequent week they were active — the
    (cohort, week_offset, n_users) triangle behind every retention chart.

    Plan: two partial-agg'd passes over events (per-user min, distinct
    per-user-week activity), then ONE user-keyed join of two
    user-cardinality relations and a final small groupBy. The raw event
    table is never joined to itself; at 100 TB the join input is |users|
    rows per side, not |events|."""
    events = load_tables(spark, sf_dir)["events"]
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_w")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_w", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(w, cohort_w) div 7").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def transition_counts(events: DataFrame, src: str, dst: str) -> DataFrame:
    """(`src`, `dst`, n) under the given column names: per ordered pair
    of event types, how often one of a user's events is directly
    followed by the other, in (ts, event_id) order — the transition
    edges `events_type_transitions` normalizes and the PageRanks run
    on. `TRANSITIONS_SQL` is the oracle twin."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return seq.groupBy(
        F.col("prev_type").alias(src), F.col("event_type").alias(dst)
    ).agg(F.count(F.lit(1)).alias("n"))


# the oracles' `transitions(src, dst, n)` CTE, the twin of transition_counts
TRANSITIONS_SQL = """seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS prev_type
  FROM events
),
transitions AS (
  SELECT prev_type AS src, event_type AS dst, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)"""

_TRANSITIONS_ORACLE = f"""
WITH {TRANSITIONS_SQL}
SELECT src AS prev_type, dst AS next_type, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY src), 4) AS p
FROM transitions
ORDER BY prev_type, next_type
"""


@register("events_type_transitions", oracle=_TRANSITIONS_ORACLE, tags=("events", "agg", "window-fn"))
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: for each
    user's time-ordered stream, count (previous type → next type) steps
    and normalize to per-source-state probabilities — the user-journey
    summary behind next-action prediction and anomaly screens.

    Plan: one window `lag` over (user_id, ts) — a single user-keyed hash
    exchange — then a hash aggregate whose output is |types|² rows, and a
    window normalization over that tiny aggregate. The event table
    shuffles once, on the same user_id partitioning every other
    behavioral query uses (a production layout would bucket events by
    user_id and make it free)."""
    events = load_tables(spark, sf_dir)["events"]
    t = transition_counts(events, "prev_type", "next_type")
    wnorm = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wnorm), 4).alias("p"),
    ).orderBy("prev_type", "next_type")


_REGRESSION_ORACLE = """
SELECT event_type,
       round(regr_slope(value, extract(hour from CAST(ts AS TIMESTAMP))), 6) AS slope,
       round(regr_intercept(value, extract(hour from CAST(ts AS TIMESTAMP))), 6) AS intercept,
       round(corr(value, extract(hour from CAST(ts AS TIMESTAMP))), 6) AS r,
       round(regr_r2(value, extract(hour from CAST(ts AS TIMESTAMP))), 6) AS r2,
       count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("events_value_regression", oracle=_REGRESSION_ORACLE, tags=("events", "agg", "stats"))
def events_value_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend: slope/intercept/correlation/
    R² of event value against hour-of-day, via the BUILT-IN regression
    aggregates (`regr_slope`/`regr_intercept`/`regr_r2`/`corr`,
    Spark 3.4+). The diagnostic behind 'is this metric drifting by time
    of day' — fitted entirely inside one partial-agg'd hash aggregate
    (the regr_* family reduces to the same six moment sums map-side), no
    ML library, no driver-side fit, no second pass. Verified bit-identical
    to DuckDB's regr_* at 6 decimals."""
    events = load_tables(spark, sf_dir)["events"]
    x = F.hour("ts")
    return (
        events.select(
            "event_type", x.alias("x"), F.col("value").alias("y")
        )
        .groupBy("event_type")
        .agg(
            F.round(F.expr("regr_slope(y, x)"), 6).alias("slope"),
            F.round(F.expr("regr_intercept(y, x)"), 6).alias("intercept"),
            F.round(F.corr("y", "x"), 6).alias("r"),
            F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


_FUNNEL_ORACLE = """
WITH s AS (
  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, s.signup_ts, min(CAST(e.ts AS TIMESTAMP)) AS click_ts
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click'
    AND CAST(e.ts AS TIMESTAMP) > s.signup_ts
    AND CAST(e.ts AS TIMESTAMP) <= s.signup_ts + INTERVAL 7 DAY
  GROUP BY e.user_id, s.signup_ts
),
p AS (
  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND CAST(e.ts AS TIMESTAMP) > c.click_ts
    AND CAST(e.ts AS TIMESTAMP) <= c.signup_ts + INTERVAL 7 DAY
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM s) AS n_signup,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase,
       round((SELECT count(*) FROM c) * 1.0 / (SELECT count(*) FROM s), 4) AS click_rate,
       round((SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM s), 4) AS purchase_rate
"""


@register("events_funnel_conversion", oracle=_FUNNEL_ORACLE, tags=("events", "agg", "join"))
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase with a 7-day conversion
    window anchored at signup: each stage must occur STRICTLY AFTER the
    previous stage's first occurrence (order matters — a purchase before
    the first post-signup click does not convert).

    Plan: one per-user aggregate per stage, each stage joining the
    previous stage's user-cardinality aggregate (user-keyed hash joins;
    the event table is filtered by type BEFORE each join, so stage inputs
    shrink monotonically). Final counts are scalar 1-row aggregates
    cross-joined as broadcasts. The s and c stage aggregates are
    tracked_persisted: each feeds BOTH its own census and the next
    stage's join (the final plan would otherwise embed s three times and
    c twice — ~6 event-table scans for one action)."""
    from ..persistence import tracked_persist

    events = load_tables(spark, sf_dir)["events"]
    s = tracked_persist(
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(
            (F.col("ts") > F.col("signup_ts"))
            & (F.col("ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("ts").alias("click_ts"))
    )
    c = tracked_persist(c)
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("click_ts"))
            & (F.col("ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    ns = s.agg(F.count(F.lit(1)).alias("n_signup"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        ns.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_signup",
            "n_click",
            "n_purchase",
            F.round(F.col("n_click") / F.col("n_signup"), 4).alias("click_rate"),
            F.round(F.col("n_purchase") / F.col("n_signup"), 4).alias(
                "purchase_rate"
            ),
        )
    )


def _attribution_oracle(ctes: str, source: str) -> str:
    """The attribution join over the relation `source` (an events-shaped
    table or CTE; `ctes` defines it, each CTE ending in a comma): the
    DuckDB twin of `_top_attributed`."""
    return f"""
WITH {ctes}clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
  FROM {source} WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
  FROM {source} WHERE event_type = 'purchase'
)
SELECT c.user_id, count(*) AS n_attributed
FROM clicks c
JOIN purchases p
  ON p.user_id = c.user_id
 AND p.pts >= c.cts
 AND p.pts <= c.cts + INTERVAL 1 HOUR
GROUP BY c.user_id
ORDER BY n_attributed DESC, c.user_id
LIMIT 20
"""


_ATTRIBUTION_ORACLE = _attribution_oracle("", "events")


def _top_attributed(
    clicks: DataFrame, purchases: DataFrame, on: "F.Column"
) -> DataFrame:
    """The 20 users with the most attributed (click, purchase) pairs: a
    purchase at `pts` is attributed to a click at `cts` of the same user
    when it lands within the hour after it. `on` is the join's equality
    condition; the time window is added here."""
    return (
        clicks.join(
            purchases,
            on
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .orderBy(F.col("n_attributed").desc(), "user_id")
        .limit(20)
    )


@register("events_click_attribution", oracle=_ATTRIBUTION_ORACLE, tags=("events", "join", "skew"))
def events_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: per user, count (click, purchase) pairs
    where the purchase lands within one hour of the click — the classic
    fact-fact self-join on user_id that no aggregate pre-pass can replace
    (the pairing predicate needs both event timestamps).

    Scale shape: both sides are SF-proportional event slices, so this is
    the registry's canonical SHUFFLE join — no broadcast hint by policy,
    the type filters push to the scans, and the join shuffles on user_id.
    Per-user event counts are what make or break it at 100 TB: a hot user
    (bot traffic) concentrates one reducer AND inflates the pair blowup
    quadratically. The engine's answer is AQE's skew-split
    (spark.sql.adaptive.skewJoin, on by default): the oversized partition
    is split into sub-partitions, each joined against a replicated copy of
    the other side — demonstrated end-to-end (plant hot key → executed
    SMJ carries skew=true) in tests/test_plans.py::
    test_attribution_skew_join_splits_hot_key. The 1-hour window also
    bounds the blowup semantically: pairing is (clicks/hr × purchases/hr)
    per user, not all-history × all-history."""
    events = load_tables(spark, sf_dir)["events"]
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("pts")
    )
    return _top_attributed(
        clicks, purchases, F.col("p_user_id") == F.col("user_id")
    )


_N_JOIN_SALT = 8

# a key is "hot" when its probe-side row count exceeds FACTOR x the mean
# rows-per-key; only hot keys are salted (and only their build rows
# replicated). Measured motivation (SCALE.md): blanket salting
# replicates the ENTIRE build side N x and left 3.7x on the table vs
# AQE's forced skew-split at the planted 30%-hot-key point — targeted
# salting pays the replication only where the skew is. The census is
# capped at 64 keys so the hot set always broadcasts.
_HOT_KEY_FACTOR = 8
_HOT_KEY_CAP = 64

# the salted-join twin must return the IDENTICAL result as the plain
# attribution join — salting is a physical rewrite, not a semantic one
# — so the oracle IS the attribution oracle, aliased rather than
# duplicated so the two can never drift
_SALTED_JOIN_ORACLE = _ATTRIBUTION_ORACLE


@register("join_salted_skew", oracle=_SALTED_JOIN_ORACLE, tags=("events", "join", "skew"))
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual key-salting for a skewed equi-join — the portable fallback
    when AQE's skew-split isn't available or doesn't apply (AQE disabled,
    a sink that pins the join's output partitioning, or an engine where
    the split would break a required distribution). Same logical result as
    `events_click_attribution` (the oracle is the identical plain-join
    SQL — salting must be result-invariant), different physical strategy:
    TARGETED salting (see `_salted_attribution`) — a broadcast-capped
    heavy-hitter census picks the hot keys; only their probe rows get a
    salt in [0, N) (`event_id % N`) and only their build rows replicate
    over the salt domain; everything else joins exactly as the plain
    query does, through the same single (user_id, salt) equi-join.

    Cost model vs AQE skew-split, measured (SCALE.md four-arm
    experiment at the planted 30%-hot-key point): AQE's DEFAULT skew
    rules decline this exact shape — the join feeds a groupBy on the
    join key, so the split would break the aggregation's required
    distribution (`skew=true` never appears; wall ≈ plain). Forcing it
    (`spark.sql.adaptive.forceOptimizeSkewedJoin=true`) splits only the
    oversized partitions and won decisively over the blanket salt-all
    first cut (2.1 s vs 7.6 s) — which is why this operator now salts
    only census-identified hot keys instead of replicating the whole
    build side N×. The manual rewrite stays the portable defense: no
    conf surgery, works with AQE disabled, and works where the join's
    output partitioning is pinned by a downstream stage — exactly the
    regime where the default AQE path measured as a no-op."""
    return _salted_attribution(load_tables(spark, sf_dir)["events"])


def _salted_attribution(events: DataFrame) -> DataFrame:
    """The salted attribution join body, shared by the natural-corpus
    query and the planted-hot-key operating point (the
    `_df_capped_pairs` pattern), TARGETED form:

    1. heavy-hitter census on the probe side — one partial-agg'd
       groupBy(user_id).count vs `_HOT_KEY_FACTOR` x the mean, capped at
       `_HOT_KEY_CAP` keys so the hot set is broadcastable at any scale;
    2. probe rows of hot keys get salt `event_id % N`, everything else
       salt 0 — cold keys never fan out;
    3. build rows replicate over the full salt domain ONLY for hot keys
       (posexplode over a per-row `sequence(0, hot ? N-1 : 0)`), cold
       build rows stay single;
    4. one equi-join on (user_id, salt, hour_bucket) — the hottest
       partition carries ~1/N of the hot key's rows PER HOUR, and the
       build side grew by at most CAP x N x (rows of the hot keys), not
       N x the whole relation.

    The blanket salt-all first cut replicated the ENTIRE build side N x;
    the four-arm measurement (SCALE.md) read it at 7.6 s vs
    AQE-forced-split 2.1 s at the planted 100k point — the unconditional
    replication was the gap, and this rewrite removes it while keeping
    the defense portable (no AQE, no conf surgery, works where the
    join's output partitioning is pinned by a downstream stage).

    Round-13 optimization pass (guide §3.3/§2.5), two measured fixes:

    * TIME-BUCKETED interval join: the pairing predicate is a 1-hour
      range, so the equi-join key gains `floor(unix_ts/3600)` — each
      click explodes to its 2 admissible purchase-hour buckets (pts in
      [cts, cts+1h] implies bucket(pts) in {bucket(cts), bucket(cts)+1},
      exact range predicates retained, so the output is bit-identical).
      Candidate enumeration drops from clicks x purchases PER USER to
      per (user, salt, HOUR) — at the planted sf0.1 point (~6k hot
      clicks x ~6k hot purchases over a 30-day span) that is ~360x fewer
      candidate pairs, and a burst-bot whose traffic all lands in ONE
      hour still gets the salt's 1/N spread (the two defenses compose).
    * EXPLICIT probe-side exchange `repartition(P, user_id, salt,
      bucket)` (P = spark.sql.shuffle.partitions — conf-derived, not a
      local constant): left to ENSURE_REQUIREMENTS, AQE broadcast the
      small build side and ran the probe at SCAN parallelism — the
      executed plan showed the whole pair blowup in ONE task (2.9-3.5 s
      of the query's 4.0 s, measured via event-log profile), the salt
      spreading nothing. The explicit numPartitions exchange is exempt
      from AQE coalescing, so the spread survives at every data size —
      which is the manual defense's entire contract.

    Measured at sf0.1 (planted point, median-of-3, quiet window):
    4.0 s -> ~1.0 s; output pinned equal by the oracle and
    tests/test_llm_ops.py's plain-join equality."""
    from ..persistence import tracked_persist

    clicks_raw = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.col("ts").alias("cts")
    )
    # tracked_persist the KEY-CARDINALITY-sized census relation: the
    # chain below consumes it three times (mean agg, threshold filter,
    # top-CAP ordering) and the hot set feeds TWO broadcast flag-joins —
    # unpersisted, every consumer re-ran the corpus-wide groupBy as its
    # own sub-job (measured: census 3.7 s of repeated scans at the 100k
    # experiment point vs ~1 s persisted; SCALE.md)
    counts = tracked_persist(
        clicks_raw.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    )
    mean_n = counts.agg(F.avg("n").alias("avg_n"))  # 1 row, broadcast
    hot_keys = tracked_persist(
        counts.crossJoin(F.broadcast(mean_n))
        .filter(F.col("n") > _HOT_KEY_FACTOR * F.col("avg_n"))
        .orderBy(F.col("n").desc(), "user_id")
        .limit(_HOT_KEY_CAP)
        .select("user_id", F.lit(True).alias("is_hot"))
    )
    # the 1-hour pairing window quantized to hour buckets: an exact
    # equi-join key (see docstring — the range predicates below keep the
    # output bit-identical; the bucket only bounds candidate enumeration)
    hour_bucket = lambda c: F.floor(F.unix_timestamp(c) / 3600)
    par = int(
        events.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    clicks = (
        clicks_raw.join(F.broadcast(hot_keys), "user_id", "left")
        .select(
            "user_id",
            "cts",
            F.when(
                F.col("is_hot").isNotNull(),
                (F.col("event_id") % _N_JOIN_SALT).cast("int"),
            )
            .otherwise(F.lit(0))
            .alias("salt"),
            # each click admits purchases from exactly 2 hour buckets
            F.explode(
                F.array(
                    hour_bucket(F.col("cts")), hour_bucket(F.col("cts")) + 1
                )
            ).alias("cbkt"),
        )
        # EXPLICIT exchange (AQE-coalescing-exempt): the spread the salt
        # promises — ENSURE_REQUIREMENTS alone let AQE broadcast the
        # build and run the whole pair blowup at scan parallelism
        .repartition(par, "user_id", "salt", "cbkt")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(hot_keys), "user_id", "left")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("pts"),
            hour_bucket(F.col("ts")).alias("pbkt"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.when(
                        F.col("is_hot").isNotNull(), F.lit(_N_JOIN_SALT - 1)
                    ).otherwise(F.lit(0)),
                )
            ).alias("p_salt"),
        )
    )
    return _top_attributed(
        clicks,
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("p_salt") == F.col("salt"))
        & (F.col("pbkt") == F.col("cbkt")),
    )


# the planted hot key: ~30% of users (hence ~30% of events) fold onto
# one sentinel user — the bot-traffic shape under which an unsalted
# shuffle join concentrates ~30% of BOTH sides on one reducer. -1 is
# outside the natural id domain, so the plant is identifiable and can
# never collide with a real user.
_HOT_USER_MOD = 10
_HOT_USER_REM = 3
_HOT_USER_ID = -1


def planted_skew_events(events: DataFrame) -> DataFrame:
    """The planted-hot-key corpus: a pure function of the fixture
    (events of users with `user_id % 10 < 3` are re-keyed to the single
    sentinel user -1), so the DuckDB oracle replays the identical
    construction in SQL. Mirrors `dedup.planted_documents` — the natural
    fixture's skew is mild (top user ≈ 4% of events), too mild to drive
    the salting defense at its design regime."""
    hot = F.col("user_id") % _HOT_USER_MOD < _HOT_USER_REM
    return events.select(
        F.when(hot, F.lit(_HOT_USER_ID).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_id",
        "event_type",
        "ts",
    )


_PLANTED_SALTED_ORACLE = _attribution_oracle(
    f"""planted AS (
  SELECT CASE WHEN user_id % {_HOT_USER_MOD} < {_HOT_USER_REM}
              THEN {_HOT_USER_ID} ELSE user_id END AS user_id,
         event_type, ts
  FROM events
),
""",
    "planted",
)


@register(
    "join_salted_skew_planted",
    oracle=_PLANTED_SALTED_ORACLE,
    tags=("events", "join", "skew"),
)
def join_salted_skew_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted join under a PLANTED hot key — the second operating
    point of the skew defense (the
    `dedup_lsh_df_capped_planted` pattern). `join_salted_skew` proves
    salting is result-invariant on the natural corpus, but the fixture's
    skew is mild (top user ≈ 4% of events — barely above uniform); this
    query drives the defense at its design point: ~30% of all events
    re-keyed onto ONE user (bot traffic / null-like sentinel key, the
    canonical production skew shapes), under which the UNSALTED shuffle
    join sends ~30% of both sides through a single reducer and pays the
    hot key's click×purchase pair blowup on one core. The salt spreads
    that key across {_N_JOIN_SALT} reducers (mechanism test pins the
    measured per-reducer ceiling at ~1/{_N_JOIN_SALT} of the hot rows);
    the oracle is the PLAIN join over the identical planted relation —
    salting must not change a single output row."""
    events = load_tables(spark, sf_dir)["events"]
    return _salted_attribution(planted_skew_events(events))


# ------------------------------------------- CEP pattern: error bursts

_CEP_MIN_RUN = 3  # consecutive errors that constitute a burst

_CEP_BURST_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events
),
grouped AS (
  SELECT user_id, event_type, rn,
         sum(chg) OVER (PARTITION BY user_id ORDER BY rn) AS grp
  FROM ordered
),
islands AS (
  SELECT user_id, event_type, grp,
         count(*) AS run_len,
         max(rn) AS max_rn
  FROM grouped GROUP BY user_id, event_type, grp
),
user_tot AS (
  SELECT user_id, max(rn) AS n_events FROM ordered GROUP BY user_id
)
SELECT i.user_id,
       count(*) AS n_bursts,
       CAST(max(i.run_len) AS BIGINT) AS longest_burst,
       count(*) FILTER (WHERE i.max_rn < t.n_events) AS n_recovered
FROM islands i JOIN user_tot t ON i.user_id = t.user_id
WHERE i.event_type = 'error' AND i.run_len >= {_CEP_MIN_RUN}
GROUP BY i.user_id
ORDER BY i.user_id
"""


@register("events_cep_error_burst", oracle=_CEP_BURST_ORACLE, tags=("event-time", "cep"))
def events_cep_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern matching without a CEP engine — the MATCH_RECOGNIZE /
    Flink-CEP `PATTERN (E{3,} R?)` shape: detect runs of >= 3
    CONSECUTIVE 'error' events per user (adjacency in the user's event
    sequence — what distinguishes CEP from the funnel, where stages may
    be separated by anything), and whether each burst "recovered" (any
    event follows it; by maximal-run construction that event is
    necessarily non-error). Reports per affected user: burst count,
    longest burst, recovered count.

    Algebra: gaps-and-islands — change flags via lag, cumulative-sum
    island ids, one aggregate per (user, island). All three window
    passes share ONE hash exchange on user_id (same partitioning, same
    ordering); island and user aggregates reuse the user-keyed
    distribution. At 100 TB this is the scan + single-key-shuffle shape,
    state bounded by run length — and the streaming twin would be
    applyInPandasWithState carrying (current_type, run_len), the same
    state the batch islands encode positionally."""
    events = load_tables(spark, sf_dir)["events"]
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        "event_type",
        F.row_number().over(wo).alias("rn"),
        F.when(
            ~F.lag("event_type").over(wo).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    wg = Window.partitionBy("user_id").orderBy("rn")
    grouped = ordered.withColumn("grp", F.sum("chg").over(wg))
    islands = grouped.groupBy("user_id", "event_type", "grp").agg(
        F.count(F.lit(1)).alias("run_len"), F.max("rn").alias("max_rn")
    )
    user_tot = ordered.groupBy("user_id").agg(F.max("rn").alias("n_events"))
    bursts = islands.filter(
        (F.col("event_type") == "error") & (F.col("run_len") >= _CEP_MIN_RUN)
    ).join(user_tot, "user_id")
    return (
        bursts.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_bursts"),
            F.max("run_len").alias("longest_burst"),
            F.sum(
                F.when(F.col("max_rn") < F.col("n_events"), 1).otherwise(0)
            ).alias("n_recovered"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------------ market-basket lift

_BASKET_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
item AS (SELECT l_partkey, count(*) AS n_i FROM li GROUP BY 1),
pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_ab,
       round(CAST(n_ab AS DOUBLE) * n.n / (ia.n_i * ib.n_i), 4) AS lift
FROM pair
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b
CROSS JOIN n_orders n
WHERE n_ab >= 2
ORDER BY n_ab DESC, part_a, part_b
LIMIT 20
"""


@register("orders_market_basket", oracle=_BASKET_ORACLE, tags=("join", "agg"))
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-ordered in the same order,
    scored by lift = P(a,b) / (P(a)·P(b)) — the association-rule measure
    behind "frequently bought together". Top-20 by co-occurrence count
    with a minimum-support floor.

    Plan: the pair expansion is the bounded within-order self-join (ONE
    shuffle on the order key, ≤ 7 lines/order so O(1) pairs per key —
    same guarantee as `lineitem_interval_overlap`), immediately
    partial-agg'd to pair counts, so the shuffle after the join carries
    one row per distinct PAIR, not per occurrence. Item supports join
    back onto the pair relation by part key; the order-count denominator
    is a 1-row broadcast. Everything ranks on exact integers; lift's one
    float division is engine-identical."""
    li = (
        load_tables(spark, sf_dir)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_i"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_i").alias("nia"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_i").alias("nib"))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n")
                / (F.col("nia") * F.col("nib")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "part_a", "part_b")
        .limit(20)
    )


# -------------------------------------------------- engagement tiers

_TIERS_ORACLE = """
WITH span AS (SELECT max(CAST(ts AS TIMESTAMP)) AS t_max FROM events),
per_user AS (
  SELECT user_id,
         max(CAST(ts AS TIMESTAMP)) AS last_seen,
         count(*) AS n_events
  FROM events GROUP BY user_id
),
tiered AS (
  SELECT u.user_id, u.n_events,
         date_diff('second', u.last_seen, s.t_max) // 3600 AS recency_h,
         ntile(4) OVER (ORDER BY u.n_events DESC, u.user_id) AS tier
  FROM per_user u CROSS JOIN span s
)
SELECT tier,
       count(*) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       round(avg(n_events), 2) AS avg_events_per_user,
       round(avg(recency_h), 2) AS avg_recency_h
FROM tiered
GROUP BY tier
ORDER BY tier
"""


@register("events_engagement_tiers", oracle=_TIERS_ORACLE, tags=("events", "agg"))
def events_engagement_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-tier segmentation: users quartiled by activity volume
    (tier 1 = power users), with per-tier population, event volume, and
    recency — the "who generates our data" census that decides which
    tier a sampling or rate-limit policy targets. Complements
    `events_retention_cohorts` (decay over time) with a present-state
    cut; ntile's rank tie-break is totalized by user_id so tier
    boundaries are deterministic.

    Plan: ONE partial-agg'd groupBy(user) is the only data-sized
    shuffle; the horizon is a 1-row broadcast; the quartile assignment
    is `ranking.global_ntile` — range-partitioned exact rank + integer
    bucket arithmetic, so the user-cardinality relation is NEVER pulled
    through a single-partition sort (same cells as window ntile,
    bit-for-bit). avg over integer inputs rounds at 2."""
    from .ranking import global_ntile

    events = load_tables(spark, sf_dir)["events"]
    span = events.agg(F.max("ts").alias("t_max"))
    per_user = events.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )
    tiered = global_ntile(
        per_user, 4, [F.col("n_events").desc(), "user_id"], "tier"
    ).crossJoin(F.broadcast(span)).select(
        "n_events",
        F.floor(
            (F.unix_timestamp("t_max") - F.unix_timestamp("last_seen"))
            / 3600
        ).cast("bigint").alias("recency_h"),
        "tier",
    )
    return (
        tiered.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.avg("n_events"), 2).alias("avg_events_per_user"),
            F.round(F.avg("recency_h"), 2).alias("avg_recency_h"),
        )
        .orderBy("tier")
    )


# -------------------------------------------------------- session top paths

_PATHS_ORACLE = f"""
WITH {SESSION_FLAGS_SQL},
sessions AS (
  SELECT user_id, event_id, event_type, t,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
),
stepped AS (
  SELECT user_id, sid, event_type,
         row_number() OVER (PARTITION BY user_id, sid ORDER BY t, event_id)
           AS step,
         count(*) OVER (PARTITION BY user_id, sid) AS session_len
  FROM sessions
),
paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY step) AS path
  FROM stepped
  WHERE step <= 3 AND session_len >= 3
  GROUP BY 1, 2
)
SELECT path, count(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 10
"""


@register("events_top_paths", oracle=_PATHS_ORACLE, tags=("events", "window-fn"))
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the top-10 opening 3-step event-type sequences
    across sessions (30-min inactivity sessionization) — the
    product-analytics "what do journeys start with" view, downstream of
    the same gaps-and-islands sessionizer `events_sessionize` ships.

    Plan: sessionize (two user-keyed windows), rank steps inside each
    session, keep steps ≤ 3 of length-≥3 sessions, assemble the path
    string ORDER-SAFELY (sort a (step, type) struct array, then join —
    collect_list alone has no deterministic order), and count per path
    with one partial-agg'd shuffle; top-10 via total-ordered sort-limit.
    Every window partitions by user or session — no global ordering
    until the 10-row result."""
    events = load_tables(spark, sf_dir)["events"]
    sessions = sessionized(events, "event_type")
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    stepped = sessions.select(
        "user_id",
        "sid",
        "event_type",
        F.row_number().over(ws).alias("step"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id", "sid"))
        .alias("session_len"),
    )
    paths = (
        stepped.filter((F.col("step") <= 3) & (F.col("session_len") >= 3))
        .groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("step", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


# ------------------------------------------------------------ RFM segments

_RFM_ORACLE = """
WITH horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS d_max FROM orders),
per_cust AS (
  SELECT o_custkey,
         date_diff('day', max(CAST(o_orderdate AS DATE)),
                   (SELECT d_max FROM horizon)) AS recency_d,
         count(*) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders
  GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, recency_d, frequency, monetary,
         ntile(5) OVER (ORDER BY recency_d, o_custkey) AS r,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m
  FROM per_cust
)
SELECT r, f, m,
       count(*) AS n_customers,
       round(avg(recency_d), 2) AS avg_recency_d,
       round(avg(frequency), 2) AS avg_frequency,
       round(avg(monetary), 2) AS avg_monetary
FROM scored
GROUP BY r, f, m
HAVING count(*) >= 5
ORDER BY r, f, m
"""


@register("customers_rfm_segments", oracle=_RFM_ORACLE, tags=("agg", "window-fn"))
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored into recency / frequency /
    monetary quintiles, then the population census per (R,F,M) cell —
    the classic CRM cut ("champions" = 1/1/1, "at risk" = 5/1/1, …).

    Determinism: monetary ranks on the ROUNDED per-customer sum —
    o_totalprice carries 2 decimals, so a per-customer sum is
    mathematically 2-decimal and round(…,2) is exact and engine-
    identical (the gap-fill argument); every ntile ordering is
    totalized by custkey. Plan: one groupBy(custkey) partial agg is the
    only order-volume shuffle; each of the three quintile scores is a
    `ranking.global_ntile` — range-partitioned exact rank, so NO
    customer-cardinality relation ever crosses a single-partition sort
    (the old form paid three sequential global-sort exchanges); the
    (R,F,M) cell census is an ordinary distributed groupBy."""

    orders = load_tables(spark, sf_dir)["orders"]

    horizon = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("d_max")
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "o_custkey",
            F.datediff("d_max", "last_d").alias("recency_d"),
            "frequency",
            "monetary",
        )
    )
    return _rfm_from_per_cust(per_cust)


def _rfm_from_per_cust(per_cust: DataFrame) -> DataFrame:
    """The triple-global_ntile scoring + (R,F,M) census over an arbitrary
    per-customer (o_custkey, recency_d, frequency, monetary) relation.
    Its 10x/100x scale curve over synthetic customer populations (three
    chained range-partitioned exact ntiles are the 100 TB question; no
    single-partition sort sneaks in as cardinality grows) is SCALE.md
    "Round-11 scale curves"; the last numbers are the `rfm_census_*`
    keys of the `experiments` block in BENCH_local_r14opt_final.json."""
    from .ranking import global_ntile

    scored = global_ntile(
        global_ntile(
            global_ntile(per_cust, 5, ["recency_d", "o_custkey"], "r"),
            5,
            [F.col("frequency").desc(), "o_custkey"],
            "f",
        ),
        5,
        [F.col("monetary").desc(), "o_custkey"],
        "m",
    ).select("recency_d", "frequency", "monetary", "r", "f", "m")
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("recency_d"), 2).alias("avg_recency_d"),
            F.round(F.avg("frequency"), 2).alias("avg_frequency"),
            F.round(F.avg("monetary"), 2).alias("avg_monetary"),
        )
        .filter(F.col("n_customers") >= 5)
        .orderBy("r", "f", "m")
    )


# ------------------------------------------------------ robust MAD outliers

_MAD_K = 1.4826  # consistency constant: MAD * k estimates sigma under normality

_MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, round(median(value), 6) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, round(median(abs(value - med)), 6) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       count(*) AS n_events,
       any_value(d.med) AS med,
       any_value(a.mad) AS mad,
       count(*) FILTER (WHERE abs(d.value - d.med) > 3 * {_MAD_K} * a.mad)
         AS n_outliers
FROM dev d JOIN mad a USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


@register("events_anomaly_mad", oracle=_MAD_ORACLE, tags=("events", "agg", "robust"))
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly census per event type: median + MAD (median absolute
    deviation, scaled by 1.4826 to estimate sigma) flag values beyond
    3 robust-sigmas. The robust twin of the z-score screen
    `events_value_outliers` ships — means and stddevs are themselves
    dragged by the outliers they're supposed to find; medians are not.

    Plan: two type-cardinality aggregation rounds (median, then median of
    absolute deviations) with the per-type statistics joined back
    broadcast — event volume crosses the wire only as groupBy partials.
    Exact medians, not approxQuantile: Spark's median() is
    percentile(0.5) with the same two-middle interpolation DuckDB's
    median() uses, so the statistic is engine-identical; both sides
    round med/mad to 6 BEFORE the threshold comparison so the outlier
    cut is bit-identical too."""
    events = load_tables(spark, sf_dir)["events"].select("event_type", "value")
    from ..persistence import tracked_persist

    med = events.groupBy("event_type").agg(
        F.round(F.median("value"), 6).alias("med")
    )
    # dev feeds BOTH the mad aggregate and the flagged join — without a
    # cache boundary the final plan evaluates dev twice, each embedding
    # the med aggregation (~4 event scans + two median computations per
    # run)
    dev = tracked_persist(events.join(F.broadcast(med), "event_type"))
    mad = dev.groupBy("event_type").agg(
        F.round(F.median(F.abs(F.col("value") - F.col("med"))), 6).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * _MAD_K * F.col("mad"),
                    1,
                )
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------- LTV Pareto curve

_PARETO_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS ltv
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT o_custkey, ltv,
         ntile(10) OVER (ORDER BY ltv DESC, o_custkey) AS decile
  FROM per_cust
),
per_decile AS (
  SELECT decile, count(*) AS n_customers, round(sum(ltv), 2) AS revenue
  FROM tiled GROUP BY decile
),
tot AS (SELECT round(sum(revenue), 2) AS total FROM per_decile)
SELECT decile, n_customers, revenue,
       round(sum(revenue) OVER (ORDER BY decile
                                ROWS UNBOUNDED PRECEDING) / total * 100, 2)
         AS cum_share_pct
FROM per_decile, tot
ORDER BY decile
"""


@register("customer_ltv_pareto", oracle=_PARETO_ORACLE, tags=("agg", "window-fn"))
def customer_ltv_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value concentration (Pareto/80-20 curve): rank
    customers into LTV deciles and report each decile's revenue plus the
    cumulative revenue share — "the top 10% of customers carry X% of
    revenue", the first chart every CRM review opens with.

    Plan: one customer-keyed partial-agg'd shuffle reduces orders to
    customer cardinality; the decile assignment is
    `ranking.global_ntile` — range-partitioned exact rank + bucket
    arithmetic, no customer-cardinality single-partition sort; the
    cumulative share then runs over exactly 10 decile rows (that tiny
    window IS single-partition, bounded at 10 rows by construction).
    Every downstream float (decile revenue, total, shares) is computed
    from round(2)-ed inputs identically in both engines."""
    from .ranking import global_ntile

    per_cust = (
        load_tables(spark, sf_dir)["orders"]
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("ltv"))
    )
    tiled = global_ntile(
        per_cust, 10, [F.col("ltv").desc(), "o_custkey"], "decile"
    ).select("ltv", "decile")
    per_decile = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("ltv"), 2).alias("revenue"),
    )
    tot = per_decile.agg(F.round(F.sum("revenue"), 2).alias("total"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        per_decile.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            "revenue",
            F.round(F.sum("revenue").over(w) / F.col("total") * 100, 2).alias(
                "cum_share_pct"
            ),
        )
        .orderBy("decile")
    )


# --------------------------------------------------- DAU/WAU stickiness

_STICKINESS_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id
  FROM events
),
days AS (SELECT DISTINCT d FROM du),
dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
wau AS (
  SELECT days.d, count(DISTINCT du.user_id) AS wau
  FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
  GROUP BY days.d
)
SELECT strftime(dau.d, '%Y-%m-%d') AS day_s, dau.dau, wau.wau,
       round(dau.dau * 1.0 / wau.wau, 4) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
ORDER BY day_s
"""


@register("events_dau_stickiness", oracle=_STICKINESS_ORACLE, tags=("events", "agg", "interval"))
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU stickiness ratio per day — the product-health headline
    metric — computed EXACTLY (the truth tier next to the mergeable-HLL
    rolling variant `sketch_hll_sliding_users`, which answers the same
    question approximately from hour sketches when exact distinct is too
    expensive to rescan).

    Plan: events reduce once to the DISTINCT (day, user) relation —
    user-by-day cardinality, the only event-volume pass. The 7-day
    windows come from joining that relation to the DISTINCT day spine
    under a BETWEEN predicate: the spine is calendar-bounded (one row per
    active day regardless of SF), so the range join's broadcast side is
    size-bounded by construction, and each (day, user) row lands in ≤ 7
    windows — linear expansion, then one partial-agg'd distinct count per
    window day."""
    from ..persistence import tracked_persist

    events = load_tables(spark, sf_dir)["events"]
    # du feeds THREE consumers (dau, the day spine, the wau probe) —
    # tracked_persist keeps 'the only event-volume pass' true in the
    # executed plan, not just the docstring (unpersisted, it re-runs
    # the events scan + distinct shuffle once per consumer)
    du = tracked_persist(
        events.select(F.to_date("ts").alias("d"), "user_id").distinct()
    )
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        F.broadcast(days.withColumnRenamed("d", "wd"))
        .join(
            du,
            (F.col("d") >= F.date_sub(F.col("wd"), 6))
            & (F.col("d") <= F.col("wd")),
        )
        .groupBy("wd")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["d"] == wau["wd"])
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day_s"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
        .orderBy("day_s")
    )


# ------------------------------------------------- conversion hazard curve

_HAZARD_ORACLE = """
WITH s AS (
  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT s.user_id, s.t0, min(CAST(e.ts AS TIMESTAMP)) AS t1
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s.t0
  GROUP BY s.user_id, s.t0
),
hist AS (
  SELECT date_diff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS day_off,
         count(*) AS n_converted
  FROM p GROUP BY 1
),
tot AS (SELECT count(*) AS n_signup FROM s)
SELECT day_off, n_converted,
       CAST(sum(n_converted) OVER (ORDER BY day_off ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_converted,
       round(sum(n_converted) OVER (ORDER BY day_off ROWS UNBOUNDED PRECEDING)
             * 100.0 / n_signup, 2) AS cum_pct
FROM hist, tot
ORDER BY day_off
"""


@register("events_conversion_hazard", oracle=_HAZARD_ORACLE, tags=("events", "agg", "window-fn"))
def events_conversion_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert hazard curve: for every signed-up user, days from
    first signup to first subsequent purchase, histogrammed by day offset
    with the cumulative conversion share of the signup population — the
    survival-analysis view ("X% convert within N days") behind trial-
    length and re-engagement decisions; the funnel
    (`events_funnel_conversion`) answers IF users convert, this answers
    WHEN.

    Plan: two event-volume passes reduce to user cardinality (per-user
    first signup; per-user first qualifying purchase via one user-keyed
    join), then the histogram is day-offset cardinality and the running
    share is a window over ≤ a few hundred rows crossed with a 1-row
    total. Day offsets measured on CAST-to-DATE in both engines
    (calendar-day difference, not 24h-interval counts)."""
    events = load_tables(spark, sf_dir)["events"]
    s = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("ts").alias("t1"))
    )
    hist = p.groupBy(
        F.datediff(F.to_date("t1"), F.to_date("t0")).alias("day_off")
    ).agg(F.count(F.lit(1)).alias("n_converted"))
    tot = s.agg(F.count(F.lit(1)).alias("n_signup"))
    w = Window.orderBy("day_off").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "day_off",
            "n_converted",
            F.sum("n_converted").over(w).cast("bigint").alias("cum_converted"),
            F.round(
                F.sum("n_converted").over(w) * 100.0 / F.col("n_signup"), 2
            ).alias("cum_pct"),
        )
        .orderBy("day_off")
    )


# -------------------------------------------------- cohort LTV matrix

_COHORT_LTV_ORACLE = """
WITH firsts AS (
  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first_d
  FROM orders GROUP BY o_custkey
),
cohorted AS (
  SELECT o.o_custkey, o.o_totalprice,
         CAST(date_part('year', f.first_d) AS VARCHAR) || '-Q'
           || CAST(date_part('quarter', f.first_d) AS VARCHAR) AS cohort_q,
         (date_part('year', CAST(o.o_orderdate AS DATE)) * 4
            + date_part('quarter', CAST(o.o_orderdate AS DATE)))
         - (date_part('year', f.first_d) * 4
            + date_part('quarter', f.first_d)) AS age_q
  FROM orders o JOIN firsts f USING (o_custkey)
)
SELECT cohort_q, CAST(age_q AS BIGINT) AS age_q,
       count(DISTINCT o_custkey) AS n_customers,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100 AS revenue,
       floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / count(DISTINCT o_custkey) + 0.5) / 100.0
         AS rev_per_customer
FROM cohorted
GROUP BY cohort_q, age_q
ORDER BY cohort_q, age_q
"""


@register("orders_cohort_ltv", oracle=_COHORT_LTV_ORACLE, tags=("agg", "join"))
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV matrix: customers cohorted by first-order quarter, then
    revenue per cohort per quarters-since-first — the money twin of the
    weekly retention triangle (`events_retention_cohorts`): retention
    counts who comes back, this measures what they spend as they age.

    Plan: one customer-keyed partial agg derives first-order dates
    (customer cardinality), one customer-keyed join tags every order with
    its cohort (AQE picks the strategy — both sides SF-proportional, no
    hint), and the matrix is one (cohort x age) groupBy — quarters since
    epoch as a pure integer expression on both engines, so cohort/age
    assignment is exact. Money is exact: a round(sum(double)) revenue
    and its divided-then-rounded per-customer figure can land a
    quotient exactly on a .xx5 boundary (measured on the sf0.001
    fixture: 5224302.63/18), where the engines' round() tie handling
    diverges on the same double. So cents fold to BIGINT before the
    sum and rev_per_customer floor-rounds the bigint/bigint quotient —
    bit-identical operands end to end."""
    orders = load_tables(spark, sf_dir)["orders"]
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d")
    )
    qidx = lambda c: F.year(c) * 4 + F.quarter(c)  # noqa: E731
    cohorted = orders.join(firsts, "o_custkey").select(
        "o_custkey",
        _cents("o_totalprice").alias("cents"),
        F.concat(
            F.year("first_d").cast("string"),
            F.lit("-Q"),
            F.quarter("first_d").cast("string"),
        ).alias("cohort_q"),
        (qidx(F.col("o_orderdate").cast("date")) - qidx(F.col("first_d")))
        .cast("bigint")
        .alias("age_q"),
    )
    return (
        cohorted.groupBy("cohort_q", "age_q")
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.sum("cents").alias("cents"),
        )
        .select(
            "cohort_q",
            "age_q",
            "n_customers",
            (F.col("cents").cast("double") / F.lit(100)).alias("revenue"),
            (
                F.floor(
                    F.col("cents").cast("double") / F.col("n_customers")
                    + F.lit(0.5)
                )
                / 100.0
            ).alias(
                "rev_per_customer"
            ),
        )
        .orderBy("cohort_q", "age_q")
    )


# ------------------------------------------------------ Welch two-sample t

_TTEST_ORACLE = """
WITH g AS (
  SELECT event_type,
         count(*) AS n,
         round(avg(value), 6) AS mean,
         round(var_samp(value), 6) AS var
  FROM events
  WHERE event_type IN ('click', 'view')
  GROUP BY event_type
),
a AS (SELECT * FROM g WHERE event_type = 'click'),
b AS (SELECT * FROM g WHERE event_type = 'view'),
s AS (
  SELECT a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
         b.n AS n_b, b.mean AS mean_b, b.var AS var_b,
         a.var / a.n + b.var / b.n AS se2
  FROM a, b
)
SELECT n_a, mean_a, var_a, n_b, mean_b, var_b,
       round((mean_a - mean_b) / sqrt(se2), 4) AS t_stat,
       round(se2 * se2 / (var_a * var_a / (n_a * n_a * (n_a - 1))
                          + var_b * var_b / (n_b * n_b * (n_b - 1))), 2)
         AS welch_df,
       abs((mean_a - mean_b) / sqrt(se2)) > 1.96 AS significant_95
FROM s
"""


@register("events_abtest_ttest", oracle=_TTEST_ORACLE, tags=("events", "agg", "stats"))
def events_abtest_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test between the 'click' and 'view' value
    populations — the A/B-experiment readout (unequal variances, so
    Welch, not Student): group moments, the t statistic, the
    Welch-Satterthwaite degrees of freedom, and the |t| > 1.96 call. In
    an experimentation pipeline the two event types are the treatment
    arms; the whole test reduces to one aggregation pass, which is why
    A/B platforms run on SQL engines.

    Plan: ONE partial-agg'd groupBy produces both arms' (n, mean, var);
    everything after is arithmetic on two 1-row relations. Cross-engine
    determinism: moments are rounded to 6 BEFORE the t/df arithmetic, so
    both engines divide bit-identical operands (the significance boolean
    compares the same rounded-input expression, not an independent
    recomputation)."""
    events = load_tables(spark, sf_dir)["events"]
    a, b = _arm_moments(events)
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
    df = (se2 * se2) / (
        F.col("var_a") * F.col("var_a") / (F.col("n_a") * F.col("n_a") * (F.col("n_a") - 1))
        + F.col("var_b") * F.col("var_b") / (F.col("n_b") * F.col("n_b") * (F.col("n_b") - 1))
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "mean_a",
        "var_a",
        "n_b",
        "mean_b",
        "var_b",
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("welch_df"),
        (F.abs(t) > 1.96).alias("significant_95"),
    )


# --------------------------------------------------- sample-ratio mismatch

_SRM_ORACLE = """
WITH users AS (SELECT DISTINCT user_id FROM events),
armed AS (
  SELECT user_id,
         CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 2 AS INTEGER) AS arm
  FROM users
),
counts AS (
  SELECT count(*) FILTER (WHERE arm = 0) AS n_a,
         count(*) FILTER (WHERE arm = 1) AS n_b,
         count(*) AS n
  FROM armed
)
SELECT n_a, n_b,
       round(((n_a - n / 2.0) * (n_a - n / 2.0)
              + (n_b - n / 2.0) * (n_b - n / 2.0)) / (n / 2.0), 4) AS chi2,
       ((n_a - n / 2.0) * (n_a - n / 2.0)
        + (n_b - n / 2.0) * (n_b - n / 2.0)) / (n / 2.0) > 3.841 AS srm_detected
FROM counts
"""


@register("events_abtest_srm", oracle=_SRM_ORACLE, tags=("events", "agg", "stats"))
def events_abtest_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the A/B surface: users are
    assigned to arms by the same deterministic md5 hash-split the engine
    uses for train/val/test (`text_hash_split`), and a one-degree
    chi-square against the intended 50/50 tests whether the realized
    split drifted — THE standard validity check run before any
    experiment readout (`events_abtest_ttest` is the readout; an SRM
    means the readout is untrustworthy no matter its p-value).

    Plan: one distinct-user pass, one 1-row conditional-count aggregate,
    arithmetic on two integers. The md5 assignment is engine-identical,
    so observed counts — and the chi-square computed from them — match
    exactly (the boolean compares the same unrounded expression on both
    sides; its operands are integers, division by n/2.0 is one IEEE op)."""
    events = load_tables(spark, sf_dir)["events"]
    armed = events.select("user_id").distinct().select(
        _md5_bucket(F.col("user_id").cast("string"), 2).alias("arm")
    )
    counts = armed.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
        F.count(F.lit(1)).alias("n"),
    )
    half = F.col("n") / 2.0
    chi2 = (
        (F.col("n_a") - half) * (F.col("n_a") - half)
        + (F.col("n_b") - half) * (F.col("n_b") - half)
    ) / half
    return counts.select(
        "n_a",
        "n_b",
        F.round(chi2, 4).alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


# --------------------------------------------------------- power analysis

_Z_ALPHA = 1.96  # two-sided 5%
_Z_BETA = 0.8416  # 80% power

_POWER_ORACLE = f"""
WITH g AS (
  SELECT event_type, count(*) AS n,
         round(avg(value), 6) AS mean,
         round(var_samp(value), 6) AS var
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY event_type
),
a AS (SELECT * FROM g WHERE event_type = 'click'),
b AS (SELECT * FROM g WHERE event_type = 'view'),
s AS (
  SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a,
         round(sqrt(((a.n - 1) * a.var + (b.n - 1) * b.var)
                    / (a.n + b.n - 2)), 6) AS sd_pooled
  FROM a, b
)
SELECT n_a, n_b, sd_pooled,
       round(({_Z_ALPHA} + {_Z_BETA}) * sd_pooled
             * sqrt(1.0 / n_a + 1.0 / n_b), 4) AS mde_abs,
       round(({_Z_ALPHA} + {_Z_BETA}) * sd_pooled
             * sqrt(1.0 / n_a + 1.0 / n_b) / mean_a * 100, 2) AS mde_rel_pct,
       CAST(ceil(2 * sd_pooled * sd_pooled
                 * ({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})
                 / (0.05 * mean_a * 0.05 * mean_a)) AS BIGINT)
         AS n_per_arm_for_5pct
FROM s
"""


@register("events_abtest_power", oracle=_POWER_ORACLE, tags=("events", "agg", "stats"))
def events_abtest_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis, completing the A/B trio (`_srm` checks
    the split, `_ttest` reads the result, THIS says whether the
    experiment could detect anything): the minimum detectable effect at
    the current sample sizes (80% power, two-sided 5%) and the per-arm n
    needed to detect a 5% relative lift — the pre-readout question every
    experiment review asks first.

    Plan: the same single aggregation pass as the t-test; all power
    arithmetic runs on two 1-row relations from PRE-ROUNDED moments
    (pooled sd rounded before reuse), so both engines evaluate identical
    operands; ceil() of an identical double is engine-identical."""
    events = load_tables(spark, sf_dir)["events"]
    a, b = _arm_moments(events)
    b = b.select("n_b", "var_b")  # power uses only B's size and variance
    z = _Z_ALPHA + _Z_BETA
    s = a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "n_b",
        "mean_a",
        F.round(
            F.sqrt(
                ((F.col("n_a") - 1) * F.col("var_a") + (F.col("n_b") - 1) * F.col("var_b"))
                / (F.col("n_a") + F.col("n_b") - 2)
            ),
            6,
        ).alias("sd_pooled"),
    )
    mde = z * F.col("sd_pooled") * F.sqrt(1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    return s.select(
        "n_a",
        "n_b",
        "sd_pooled",
        F.round(mde, 4).alias("mde_abs"),
        F.round(mde / F.col("mean_a") * 100, 2).alias("mde_rel_pct"),
        F.ceil(
            2 * F.col("sd_pooled") * F.col("sd_pooled") * z * z
            / (0.05 * F.col("mean_a") * 0.05 * F.col("mean_a"))
        ).cast("bigint").alias("n_per_arm_for_5pct"),
    )


# ---------------------------------------------------- hour x weekday heatmap

_HEATMAP_ORACLE = """
SELECT CAST(date_part('dow', CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
       CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY dow, hour
"""


@register("events_heatmap_hour_dow", oracle=_HEATMAP_ORACLE, tags=("events", "agg"))
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week activity heatmap — the seasonality
    fingerprint every traffic dashboard opens with (and the axis the
    anomaly screens condition on). One partial-agg'd shuffle to a fixed
    168-cell grid regardless of SF.

    Cross-engine gotcha pinned here: DuckDB's dow is 0-6 with Sunday=0
    while Spark's dayofweek() is 1-7 with Sunday=1 — the Spark side
    subtracts 1 so the axes agree."""
    events = load_tables(spark, sf_dir)["events"]
    return (
        events.groupBy(
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("dow", "hour")
    )


# --------------------------------------------------------- bounce rate

_BOUNCE_ORACLE = f"""
WITH {SESSION_FLAGS_SQL},
sessions AS (
  SELECT user_id, t,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
),
per_session AS (
  SELECT user_id, sid, min(CAST(t AS DATE)) AS d, count(*) AS n_events
  FROM sessions GROUP BY user_id, sid
)
SELECT strftime(d, '%Y-%m-%d') AS day_s,
       count(*) AS n_sessions,
       count(*) FILTER (WHERE n_events = 1) AS n_bounces,
       round(count(*) FILTER (WHERE n_events = 1) * 100.0 / count(*), 2)
         AS bounce_pct
FROM per_session
GROUP BY d
ORDER BY day_s
"""


@register("events_bounce_rate", oracle=_BOUNCE_ORACLE, tags=("events", "window-fn"))
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions containing exactly one event,
    bucketed by session start day — the engagement-quality headline next
    to the session-count and top-paths views, built on the SAME
    microsecond-precise gaps-and-islands sessionizer (`unix_micros`
    matching the oracle's `epoch_us`, so a gap within a second of the
    30-minute boundary is classified alike by every sessionizer).

    Plan: one user-keyed window pass sessionizes, one (user, session)
    groupBy reduces to session cardinality, and the daily census is a
    day-cardinality aggregate — events shuffle once."""
    events = load_tables(spark, sf_dir)["events"]
    sessions = sessionized(events)
    per_session = sessions.groupBy("user_id", "sid").agg(
        F.min(F.to_date("ts")).alias("d"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        per_session.groupBy(F.date_format("d", "yyyy-MM-dd").alias("day_s"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounces"),
            F.round(
                F.count(F.when(F.col("n_events") == 1, 1)) * 100.0
                / F.count(F.lit(1)),
                2,
            ).alias("bounce_pct"),
        )
        .orderBy("day_s")
    )


# ------------------------------------------------------ behavioral entropy

_ENTROPY_ORACLE = """
WITH tc AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type
),
tot AS (
  SELECT user_id, sum(n) AS total FROM tc GROUP BY user_id
),
ent AS (
  SELECT tc.user_id,
         round(-sum((tc.n * 1.0 / t.total) * ln(tc.n * 1.0 / t.total)), 6)
           AS entropy
  FROM tc JOIN tot t ON tc.user_id = t.user_id
  GROUP BY tc.user_id
)
SELECT CAST(floor(entropy / 0.25) AS BIGINT) AS entropy_band,
       count(*) AS n_users,
       round(min(entropy), 6) AS min_entropy,
       round(max(entropy), 6) AS max_entropy
FROM ent
GROUP BY 1
ORDER BY entropy_band
"""


@register("events_behavior_entropy", oracle=_ENTROPY_ORACLE, tags=("events", "agg", "stats"))
def events_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy census: Shannon entropy of each user's
    event-type distribution, banded into 0.25-nat buckets — the
    diversity-of-behavior segmentation (entropy ~0 = single-action bots
    and scrapers; high entropy = engaged explorers) that powers both
    abuse screens and engagement models, complementing the volume-based
    tiers (`events_engagement_tiers`) with a SHAPE-based one.

    Plan: two partial-agg'd groupBys reduce events to (user, type) then
    user cardinality; entropy is map-side arithmetic; the band census is
    a dozen rows. The band floor runs on the pre-rounded entropy so
    banding cannot flip on a ulp."""
    events = load_tables(spark, sf_dir)["events"]
    tc = events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("user_id")
    ent = (
        tc.withColumn("p", F.col("n") / F.sum("n").over(tot))
        .groupBy("user_id")
        .agg(F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy"))
    )
    return (
        ent.groupBy(
            F.floor(F.col("entropy") / 0.25).cast("bigint").alias("entropy_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.min("entropy"), 6).alias("min_entropy"),
            F.round(F.max("entropy"), 6).alias("max_entropy"),
        )
        .orderBy("entropy_band")
    )


# ------------------------------------------------------------- CUPED

_CUPED_ORACLE = """
WITH bounds AS (
  SELECT min(CAST(ts AS TIMESTAMP)) AS t0, max(CAST(ts AS TIMESTAMP)) AS t1
  FROM events
),
marked AS (
  -- integer-micros midpoint test (2*ts < t0 + t1): interval division
  -- rounds differently across engines; integer arithmetic cannot
  SELECT e.user_id, e.value,
         2 * epoch_us(CAST(e.ts AS TIMESTAMP))
           < epoch_us(b.t0) + epoch_us(b.t1) AS is_pre
  FROM events e CROSS JOIN bounds b
),
per_user AS (
  SELECT user_id,
         round(avg(CASE WHEN is_pre THEN value END), 6) AS pre_mean,
         round(avg(CASE WHEN NOT is_pre THEN value END), 6) AS post_mean,
         CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 2 AS INTEGER) AS arm
  FROM marked
  GROUP BY user_id
),
complete AS (
  SELECT * FROM per_user WHERE pre_mean IS NOT NULL AND post_mean IS NOT NULL
),
theta AS (
  SELECT round(covar_samp(post_mean, pre_mean) / var_samp(pre_mean), 6) AS th,
         round(avg(pre_mean), 6) AS pre_grand
  FROM complete
)
SELECT c.arm,
       count(*) AS n_users,
       round(avg(c.post_mean), 6) AS raw_mean,
       round(avg(c.post_mean - t.th * (c.pre_mean - t.pre_grand)), 6)
         AS cuped_mean,
       round(t.th, 6) AS theta
FROM complete c CROSS JOIN theta t
GROUP BY c.arm, t.th
ORDER BY c.arm
"""


@register("events_abtest_cuped", oracle=_CUPED_ORACLE, tags=("events", "agg", "stats"))
def events_abtest_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): each user's
    post-period mean adjusted by their PRE-period mean (theta =
    cov(post, pre)/var(pre)) before comparing arms — the standard trick
    that cuts experiment runtimes ~30-50% because pre-experiment behavior
    absorbs between-user variance the treatment can't explain. Completes
    the A/B suite: SRM validates the split, power sizes it, the t-test
    reads it, CUPED makes it sensitive. Arms reuse the same md5
    hash-split as `events_abtest_srm`; the fixture's halves are split at
    the corpus time midpoint.

    Plan: one event pass reduces to per-user (pre, post) means; theta
    and the grand pre-mean are a 1-row aggregate crossed back; the arm
    readout is a 2-row groupBy. All adjustment arithmetic runs on
    pre-rounded user means, so theta and the adjusted means are
    engine-identical."""
    events = load_tables(spark, sf_dir)["events"]
    bounds = events.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    marked = events.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "value",
        (
            2 * F.unix_micros("ts")
            < F.unix_micros("t0") + F.unix_micros("t1")
        ).alias("is_pre"),
    )
    per_user = marked.groupBy("user_id").agg(
        F.round(F.avg(F.when(F.col("is_pre"), F.col("value"))), 6).alias("pre_mean"),
        F.round(F.avg(F.when(~F.col("is_pre"), F.col("value"))), 6).alias("post_mean"),
    ).select(
        "pre_mean",
        "post_mean",
        _md5_bucket(F.col("user_id").cast("string"), 2)
        .cast("int")
        .alias("arm"),
    ).filter(F.col("pre_mean").isNotNull() & F.col("post_mean").isNotNull())
    theta = per_user.agg(
        F.round(
            F.covar_samp("post_mean", "pre_mean") / F.var_samp("pre_mean"), 6
        ).alias("th"),
        F.round(F.avg("pre_mean"), 6).alias("pre_grand"),
    )
    return (
        per_user.crossJoin(F.broadcast(theta))
        .groupBy("arm", "th")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("post_mean"), 6).alias("raw_mean"),
            F.round(
                F.avg(
                    F.col("post_mean")
                    - F.col("th") * (F.col("pre_mean") - F.col("pre_grand"))
                ),
                6,
            ).alias("cuped_mean"),
        )
        .select(
            "arm", "n_users", "raw_mean", "cuped_mean",
            F.round("th", 6).alias("theta"),
        )
        .orderBy("arm")
    )


# -------------------------------------------------------- velocity flags

_VELOCITY_N = 5  # events within the window that trip the flag
_VELOCITY_WINDOW_S = 60

_VELOCITY_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id,
         CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP))) AS BIGINT)
           AS tse
  FROM events
),
counted AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY tse
                        RANGE BETWEEN {_VELOCITY_WINDOW_S} PRECEDING
                              AND CURRENT ROW) AS n_in_window
  FROM e
),
per_user AS (
  SELECT user_id, max(n_in_window) AS peak_rate,
         count(*) AS n_events
  FROM counted GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(*) FILTER (WHERE peak_rate >= {_VELOCITY_N}) AS n_flagged,
       CAST(max(peak_rate) AS BIGINT) AS max_peak_rate,
       round(avg(peak_rate), 4) AS avg_peak_rate
FROM per_user
"""


@register("events_velocity_flags", oracle=_VELOCITY_ORACLE, tags=("events", "window-fn"))
def events_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity-rule screen: users whose event rate ever reached 5+ events
    inside any trailing 60-second window — the burst/fraud/bot rule every
    abuse system runs first (the streaming CEP tier catches PATTERNS;
    this catches RATE). Reported as the population census with peak
    rates.

    Plan: one user-keyed RANGE-frame window over the truncated-seconds
    axis (the same axis-parity rule `events_trailing_window_range`
    documents — both engines count an event's window on floored epoch
    seconds), then a user-cardinality max and a 1-row census. One
    exchange total."""
    events = load_tables(spark, sf_dir)["events"]
    e = events.select(
        "user_id", F.unix_timestamp("ts").alias("tse")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tse")
        .rangeBetween(-_VELOCITY_WINDOW_S, Window.currentRow)
    )
    counted = e.select(
        "user_id", F.count(F.lit(1)).over(w).alias("n_in_window")
    )
    per_user = counted.groupBy("user_id").agg(
        F.max("n_in_window").alias("peak_rate"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("peak_rate") >= _VELOCITY_N, 1)).alias("n_flagged"),
        F.max("peak_rate").cast("bigint").alias("max_peak_rate"),
        F.round(F.avg("peak_rate"), 4).alias("avg_peak_rate"),
    )


# --------------------------------------------------- value-tier migration

_MIGRATION_ORACLE = """
WITH yearly AS (
  SELECT o_custkey,
         date_part('year', CAST(o_orderdate AS DATE)) AS yr,
         round(sum(o_totalprice), 2) AS rev
  FROM orders
  GROUP BY 1, 2
),
tiered AS (
  SELECT o_custkey, yr,
         ntile(4) OVER (PARTITION BY yr ORDER BY rev DESC, o_custkey) AS tier
  FROM yearly
)
SELECT CAST(a.yr AS BIGINT) AS from_year,
       a.tier AS from_tier, b.tier AS to_tier,
       count(*) AS n_customers
FROM tiered a JOIN tiered b
  ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
GROUP BY a.yr, a.tier, b.tier
ORDER BY from_year, from_tier, to_tier
"""


@register("customers_tier_migration", oracle=_MIGRATION_ORACLE, tags=("agg", "window-fn", "join"))
def customers_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-tier migration matrix: customers quartiled by revenue within
    each year, then counted across consecutive-year tier transitions —
    the dynamic view RFM's static snapshot (`customers_rfm_segments`)
    lacks: churn risk is not being in tier 4, it is FALLING to tier 4.

    Plan: orders reduce to (customer, year) revenue; the quartile is one
    ntile per year partition over that customer-cardinality relation; the
    migration join is customer-keyed self-join of adjacent years (both
    sides already aggregates) and the matrix is ≤ years x 16 rows.
    Pre-rounded revenues + key tiebreaks make tier assignment
    engine-identical."""
    yearly = (
        load_tables(spark, sf_dir)["orders"]
        .groupBy(
            "o_custkey", F.year(F.col("o_orderdate").cast("date")).alias("yr")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w = Window.partitionBy("yr").orderBy(F.col("rev").desc(), "o_custkey")
    tiered = yearly.select("o_custkey", "yr", F.ntile(4).over(w).alias("tier"))
    a, b = tiered.alias("a"), tiered.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("b.yr") == F.col("a.yr") + 1),
        )
        .groupBy(
            F.col("a.yr").cast("bigint").alias("from_year"),
            F.col("a.tier").alias("from_tier"),
            F.col("b.tier").alias("to_tier"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("from_year", "from_tier", "to_tier")
    )


# ------------------------------------------------ new vs returning users

_NEW_RETURNING_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_d
  FROM events GROUP BY user_id
),
daily AS (
  SELECT DISTINCT e.user_id,
         CAST(CAST(e.ts AS TIMESTAMP) AS DATE) AS d
  FROM events e
)
SELECT strftime(d.d, '%Y-%m-%d') AS day_s,
       count(*) AS n_active,
       count(*) FILTER (WHERE d.d = f.first_d) AS n_new,
       count(*) FILTER (WHERE d.d > f.first_d) AS n_returning,
       round(count(*) FILTER (WHERE d.d > f.first_d) * 100.0 / count(*), 2)
         AS returning_pct
FROM daily d JOIN first_seen f ON d.user_id = f.user_id
GROUP BY d.d
ORDER BY day_s
"""


@register("events_new_vs_returning", oracle=_NEW_RETURNING_ORACLE, tags=("events", "agg"))
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split: each active day's users
    partitioned by whether it is their FIRST day — the acquisition-vs-
    retention decomposition of the DAU curve that turns "traffic is up"
    into "because acquisition spiked" or "because retention improved"
    (the per-day marginal of the cohort retention triangle).

    Plan: same two user-cardinality relations as the retention matrix
    (per-user first day; distinct day-user activity), one user-keyed
    join, one day-cardinality census — events never join events."""
    events = load_tables(spark, sf_dir)["events"]
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_d")
    )
    daily = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        daily.join(first_seen, "user_id")
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day_s"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count(F.when(F.col("d") == F.col("first_d"), 1)).alias("n_new"),
            F.count(F.when(F.col("d") > F.col("first_d"), 1)).alias("n_returning"),
            F.round(
                F.count(F.when(F.col("d") > F.col("first_d"), 1)) * 100.0
                / F.count(F.lit(1)),
                2,
            ).alias("returning_pct"),
        )
        .orderBy("day_s")
    )


# ------------------------------------------------- inter-event gap histogram


def _gap_us() -> "F.Column":
    """Microseconds since the same user's previous event in (ts,
    event_id) order; NULL on a user's first event. `_GAPS_SQL` is the
    oracle twin."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)


# the oracles' `gaps(user_id, gap_us)` CTE, the twin of _gap_us
_GAPS_SQL = """gaps AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP))
           - lag(epoch_us(CAST(ts AS TIMESTAMP)))
             OVER (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
  FROM events
)"""

_GAP_HIST_ORACLE = f"""
WITH {_GAPS_SQL}
SELECT CAST(floor(log2(gap_us / 1000000.0)) AS BIGINT) AS gap_bucket_log2s,
       count(*) AS n_gaps,
       round(min(gap_us) / 1000000.0, 3) AS min_gap_s,
       round(max(gap_us) / 1000000.0, 3) AS max_gap_s
FROM gaps
WHERE gap_us IS NOT NULL AND gap_us > 0
GROUP BY 1
ORDER BY gap_bucket_log2s
"""


@register("events_gap_histogram", oracle=_GAP_HIST_ORACLE, tags=("events", "window-fn"))
def events_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution (log2-second buckets of the time
    between a user's consecutive events) — the histogram that JUSTIFIES
    the session threshold: human activity gaps are bimodal (within-visit
    seconds-to-minutes vs between-visit hours), and the 30-minute cut
    every sessionizer in this engine uses sits in the valley. Run this
    before trusting any session metric on a new corpus.

    Plan: one user-keyed lag window (microsecond precision, the
    sessionizer's axis), then a map-side log2 bucket and a dozen-row
    census. Gaps measured in integer microseconds on both engines;
    bucket floors operate on identical quotients."""
    events = load_tables(spark, sf_dir)["events"]
    gaps = events.select(_gap_us().alias("gap_us")).filter(
        F.col("gap_us").isNotNull() & (F.col("gap_us") > 0)
    )
    return (
        gaps.groupBy(
            F.floor(F.log2(F.col("gap_us") / 1000000.0))
            .cast("bigint")
            .alias("gap_bucket_log2s")
        )
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.min("gap_us") / 1000000.0, 3).alias("min_gap_s"),
            F.round(F.max("gap_us") / 1000000.0, 3).alias("max_gap_s"),
        )
        .orderBy("gap_bucket_log2s")
    )


# ------------------------------------------------------------ one-way ANOVA

_ANOVA_ORACLE = """
WITH g AS (
  SELECT event_type, count(*) AS n,
         round(avg(value), 6) AS mean,
         round(var_samp(value), 6) AS var
  FROM events GROUP BY event_type
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total, count(*) AS k,
         round(sum(n * mean) / sum(n), 6) AS grand_mean
  FROM g
),
ss AS (
  SELECT round(sum(g.n * (g.mean - t.grand_mean) * (g.mean - t.grand_mean)), 6)
           AS ss_between,
         round(sum((g.n - 1) * g.var), 6) AS ss_within,
         max(t.k) AS k, max(t.n_total) AS n_total
  FROM g CROSS JOIN tot t
)
SELECT k AS n_groups, n_total,
       ss_between, ss_within,
       round((ss_between / (k - 1)) / (ss_within / (n_total - k)), 4) AS f_stat,
       (ss_between / (k - 1)) / (ss_within / (n_total - k)) > 2.37
         AS significant_05
FROM ss
"""


@register("events_anova_oneway", oracle=_ANOVA_ORACLE, tags=("events", "agg", "stats"))
def events_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across ALL event types: does mean value differ
    anywhere among the k groups? — the >2-group omnibus test the
    pairwise Welch t-test can't answer without multiple-comparison
    inflation. F = (SS_between/(k-1)) / (SS_within/(N-k)); 2.37 is the
    F(4, inf) 5% critical value for the fixture's five types.

    Plan: the whole test reduces to ONE partial-agg'd groupBy producing
    per-group (n, mean, var) — the sums of squares are arithmetic over k
    rows crossed with a 1-row total. Moments are pre-rounded, both SS
    terms re-rounded before the ratio, so the F statistic and the
    significance call compare identical operands cross-engine."""
    events = load_tables(spark, sf_dir)["events"]
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.var_samp("value"), 6).alias("var"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).alias("k"),
        F.round(F.sum(F.col("n") * F.col("mean")) / F.sum("n"), 6).alias(
            "grand_mean"
        ),
    )
    ss = g.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(
                F.col("n")
                * (F.col("mean") - F.col("grand_mean"))
                * (F.col("mean") - F.col("grand_mean"))
            ),
            6,
        ).alias("ss_between"),
        F.round(F.sum((F.col("n") - 1) * F.col("var")), 6).alias("ss_within"),
        F.max("k").alias("k"),
        F.max("n_total").alias("n_total"),
    )
    f = (F.col("ss_between") / (F.col("k") - 1)) / (
        F.col("ss_within") / (F.col("n_total") - F.col("k"))
    )
    return ss.select(
        F.col("k").alias("n_groups"),
        "n_total",
        "ss_between",
        "ss_within",
        F.round(f, 4).alias("f_stat"),
        (f > 2.37).alias("significant_05"),
    )


# ----------------------------------------------------------- burstiness

_BURSTINESS_ORACLE = f"""
WITH {_GAPS_SQL},
per_user AS (
  SELECT user_id,
         round(avg(gap_us / 1000000.0), 6) AS mu,
         round(stddev_samp(gap_us / 1000000.0), 6) AS sigma,
         count(*) AS n_gaps
  FROM gaps WHERE gap_us IS NOT NULL
  GROUP BY user_id
  HAVING count(*) >= 5
),
scored AS (
  SELECT user_id,
         round((sigma - mu) / (sigma + mu), 6) AS b
  FROM per_user
)
SELECT CAST(floor((b + 1.0) / 0.25) AS BIGINT) AS b_band,
       count(*) AS n_users,
       round(min(b), 6) AS min_b,
       round(max(b), 6) AS max_b
FROM scored
GROUP BY 1
ORDER BY b_band
"""


@register("events_burstiness_index", oracle=_BURSTINESS_ORACLE, tags=("events", "stats", "window-fn"))
def events_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness index census (Goh & Barabási 2008): B = (sigma - mu) /
    (sigma + mu) of each user's inter-event gaps — B near -1 is
    metronome-regular (schedulers, heartbeat bots), near 0 is Poisson
    (organic arrivals), toward +1 is bursty (humans) — the
    temporal-signature screen completing the behavioral triptych with
    entropy (WHAT mix) and velocity (HOW fast); users under 5 gaps are
    excluded as unestimable.

    Plan: the same single user-keyed lag window as the gap histogram,
    then user-cardinality moments and a 8-band census. mu/sigma are
    pre-rounded before the B ratio, and the band floor runs on the
    rounded B, so banding is engine-identical."""
    events = load_tables(spark, sf_dir)["events"]
    gaps = events.select(
        "user_id", (_gap_us() / 1000000.0).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            F.round(F.avg("gap_s"), 6).alias("mu"),
            F.round(F.stddev_samp("gap_s"), 6).alias("sigma"),
            F.count(F.lit(1)).alias("n_gaps"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    scored = per_user.select(
        F.round(
            (F.col("sigma") - F.col("mu")) / (F.col("sigma") + F.col("mu")), 6
        ).alias("b")
    )
    return (
        scored.groupBy(
            F.floor((F.col("b") + 1.0) / 0.25).cast("bigint").alias("b_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.min("b"), 6).alias("min_b"),
            F.round(F.max("b"), 6).alias("max_b"),
        )
        .orderBy("b_band")
    )


# -------------------------------------------------- repeat-purchase curve

_REPEAT_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
),
tot AS (SELECT count(*) AS n_customers FROM per_cust),
ks AS (SELECT unnest(range(1, 11)) AS k)
SELECT CAST(ks.k AS BIGINT) AS k,
       count(*) AS n_with_k_orders,
       round(count(*) * 100.0 / tot.n_customers, 2) AS pct_of_buyers
FROM ks JOIN per_cust p ON p.n_orders >= ks.k
CROSS JOIN tot
GROUP BY ks.k, tot.n_customers
ORDER BY k
"""


@register("orders_repeat_purchase_curve", oracle=_REPEAT_ORACLE, tags=("agg",))
def orders_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase curve: share of buyers who placed at least k orders,
    for k = 1..10 — the loyalty decay curve ("what fraction ever come
    back, and back again") that anchors retention economics; its slope is
    the single most-quoted number in repeat-commerce decks.

    Plan: one customer-keyed partial agg, then a 10-row threshold grid
    joins the customer-cardinality counts under >= (each customer lands
    in n_orders rows of the curve, bounded by the max k) and a 1-row
    total normalizes — the same bounded broadcast-spine shape as the
    DAU/WAU windows."""
    per_cust = (
        load_tables(spark, sf_dir)["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = per_cust.agg(F.count(F.lit(1)).alias("n_customers"))
    ks = per_cust.sparkSession.range(1, 11).select(F.col("id").alias("k"))
    return (
        F.broadcast(ks)
        .join(per_cust, per_cust["n_orders"] >= F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_with_k_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_with_k_orders",
            F.round(
                F.col("n_with_k_orders") * 100.0 / F.col("n_customers"), 2
            ).alias("pct_of_buyers"),
        )
        .orderBy("k")
    )


# -------------------------------------------------- user-activity Zipf fit

_USER_ZIPF_ORACLE = """
WITH per_user AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, user_id) AS rk
  FROM per_user
),
top AS (SELECT * FROM ranked WHERE rk <= 100)
SELECT count(*) AS n_points,
       round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
         AS zipf_slope,
       round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6) AS r2,
       round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
         > -0.5 AS near_uniform
FROM top
"""


@register("events_user_activity_zipf", oracle=_USER_ZIPF_ORACLE, tags=("events", "stats"))
def events_user_activity_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit over user-activity ranks: OLS slope of log(events) on
    log(rank) for the top-100 users — the workload-skew fingerprint that
    decides partitioning strategy BEFORE queries melt (slope near -1 =
    power-law users, the hot-key world the salted/AQE-skew operators
    exist for; near 0 = uniform, plain hash partitioning is fine). The
    per-user twin of the corpus `text_zipf_slope` and the graph degree
    histogram: the same heavy-tail question asked of all three data
    axes.

    Plan: one user-cardinality count, then orderBy+limit FIRST — Spark
    plans TakeOrderedAndProject, a true distributed top-k (per-partition
    heaps, no global sort) — and only the 100 survivors are ranked by a
    window (single-partition but bounded at 100 rows post-limit; same
    pattern as text_zipf_slope). One regr_* moment aggregate over 100
    identical log operands closes it."""
    events = load_tables(spark, sf_dir)["events"]
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), "user_id")
    top = (
        per_user.orderBy(F.col("n").desc(), "user_id")
        .limit(100)
        .select("n", F.row_number().over(w).alias("rk"))
    )
    logs = top.select(
        F.log(F.col("n").cast("double")).alias("lf"),
        F.log(F.col("rk").cast("double")).alias("lr"),
    )
    slope = F.round(F.expr("regr_slope(lf, lr)"), 6)
    return logs.agg(
        F.count(F.lit(1)).alias("n_points"),
        slope.alias("zipf_slope"),
        F.round(F.expr("regr_r2(lf, lr)"), 6).alias("r2"),
        (slope > -0.5).alias("near_uniform"),
    )


# -------------------------------------------------- event-type mix trend

_MIX_TREND_ORACLE = """
WITH m AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month_s,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT month_s, event_type, n,
       round(n * 100.0 / sum(n) OVER (PARTITION BY month_s), 2) AS share_pct
FROM m
ORDER BY month_s, event_type
"""


@register("events_type_mix_trend", oracle=_MIX_TREND_ORACLE, tags=("events", "agg", "window-fn"))
def events_type_mix_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly event-type mix: each type's share of the month's volume —
    the composition-drift trend behind "traffic is flat but purchases'
    share halved"; the time-series complement of the point-in-time KL
    divergence screen (`source_lang_kl_divergence` asks how far two
    distributions sit apart; this shows the mix MOVING).

    Plan: one partial-agg'd groupBy to (month x type) cardinality, one
    share window over that aggregate. Shares are integer-count ratios —
    identical division operands in both engines."""
    events = load_tables(spark, sf_dir)["events"]
    m = events.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month_s"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("month_s")
    return m.select(
        "month_s",
        "event_type",
        "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(w), 2).alias("share_pct"),
    ).orderBy("month_s", "event_type")


# ------------------------------------------------ shuffle-key skew report

_KEY_SKEW_ORACLE = """
WITH pk AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
),
summ AS (
  SELECT count(*) AS n_keys,
         round(max(n) * count(*) * 1.0 / sum(n), 2) AS skew_factor
  FROM pk
)
SELECT CAST(floor(log2(n)) AS BIGINT) AS rows_pow2,
       count(*) AS n_keys_in_bucket,
       CAST(sum(n) AS BIGINT) AS total_rows,
       s.n_keys,
       s.skew_factor
FROM pk, summ s
GROUP BY 1, s.n_keys, s.skew_factor
ORDER BY rows_pow2
"""


@register("events_key_skew_report", oracle=_KEY_SKEW_ORACLE, tags=("events", "agg", "stats"))
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report for user_id on the events fact table — the
    operational pre-check behind every partitioning decision this engine
    makes: a log2 histogram of per-key row counts plus the hot-key skew
    factor (max/avg; 1.0 = uniform, >>1 = the AQE-skew-join / salting
    world `agg_salted_hot_key` and `events_click_attribution` exist
    for). The per-user twin of `graph_degree_distribution`'s question,
    asked of the SHUFFLE key rather than the graph: will the biggest
    reducer partition melt? Each histogram row carries the two global
    summary columns (deliberate denormalization — one result relation,
    one grain).

    Plan: ONE partial-agg'd groupBy(user) — the identical exchange any
    downstream join/agg on this key would pay, so the diagnostic costs
    exactly one instance of the thing it measures — then a dozen bucket
    rows crossed with a 1-row summary broadcast. log2-bucket floors are
    engine-identical (integer inputs; exact at powers of two, >1ulp from
    boundaries elsewhere — the graph_degree_distribution precedent)."""
    events = load_tables(spark, sf_dir)["events"]
    pk = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    summ = pk.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.round(
            F.max("n") * F.count(F.lit(1)) * F.lit(1.0) / F.sum("n"), 2
        ).alias("skew_factor"),
    )
    return (
        pk.select(
            F.floor(F.log2("n")).cast("bigint").alias("rows_pow2"), "n"
        )
        .groupBy("rows_pow2")
        .agg(
            F.count(F.lit(1)).alias("n_keys_in_bucket"),
            F.sum("n").cast("bigint").alias("total_rows"),
        )
        .crossJoin(F.broadcast(summ))
        .select(
            "rows_pow2",
            "n_keys_in_bucket",
            "total_rows",
            "n_keys",
            "skew_factor",
        )
        .orderBy("rows_pow2")
    )


# ------------------------------------------------ Poisson bootstrap CI

_BOOT_R = 50  # bootstrap replicates
# Cumulative Poisson(λ=1) thresholds, hardcoded identically in both
# engines: P(X<=k) for k=0..6; u above the last bin clamps to 7.
_POIS_CDF = (
    "0.3678794412",
    "0.7357588823",
    "0.9196986029",
    "0.9810118431",
    "0.9963401532",
    "0.9994058152",
    "0.9999167589",
)


def _pois_case(u_expr: str) -> str:
    """Branchless-ish inverse-CDF: weight = #thresholds below u."""
    terms = " + ".join(
        f"(CASE WHEN {u_expr} > {t} THEN 1 ELSE 0 END)" for t in _POIS_CDF
    )
    return f"({terms})"


_BOOT_ORACLE = f"""
WITH reps AS (SELECT unnest(generate_series(1, {_BOOT_R})) AS r),
w AS (
  SELECT r, value,
         {_pois_case("(CAST(('0x' || substr(md5('boot:' || CAST(event_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 8)) AS UBIGINT) / 4294967296.0)")}
           AS wt
  FROM events, reps
),
means AS (
  SELECT r, sum(wt * value) / sum(wt) AS m
  FROM w GROUP BY r HAVING sum(wt) > 0
)
SELECT count(*) AS n_replicates,
       round(quantile_cont(m, 0.025), 4) AS ci_lo,
       round(quantile_cont(m, 0.5), 4) AS ci_mid,
       round(quantile_cont(m, 0.975), 4) AS ci_hi
FROM means
"""


@register("events_bootstrap_ci", oracle=_BOOT_ORACLE, tags=("events", "stats", "sample"))
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean event value: each row gets an
    independent Poisson(1) resampling weight PER REPLICATE instead of
    true with-replacement draws — the reformulation that makes the
    bootstrap distributed (a real resample needs global coordination;
    Poisson weights are a per-row map, and replicate sums are ordinary
    partial-agg'd aggregates), standard practice for CIs over
    cluster-scale data. 50 replicate means → percentile CI (2.5/50/97.5).

    Determinism/oracle-exactness: the weight is an inverse-CDF lookup on
    an md5-derived uniform per (event, replicate) — both engines derive
    the identical uniform and compare against the same hardcoded
    cumulative-Poisson literals, so every weight is engine-identical
    (the `privacy_dp_lang_counts` seeded-mechanism trick); replicate
    means differ only in summation order, absorbed by round(4) after
    the quantile.

    Plan: the replicate axis is a map-side explode (50× rows, zero
    shuffle — at 100 TB this is the classic compute-vs-shuffle trade:
    50× map work but the exchange still carries only 50 partial-agg
    rows per mapper), one groupBy(replicate), then a 50-row quantile."""
    events = load_tables(spark, sf_dir)["events"]
    reps = F.explode(
        F.sequence(F.lit(1), F.lit(_BOOT_R))
    ).alias("r")
    u = (
        "(CAST(conv(substring(md5(concat('boot:', CAST(event_id AS STRING), "
        "':', CAST(r AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0)"
    )
    w = events.select("event_id", "value", reps).select(
        "r", "value", F.expr(_pois_case(u)).alias("wt")
    )
    means = (
        w.groupBy("r")
        .agg(
            (F.sum(F.col("wt") * F.col("value")) / F.sum("wt")).alias("m"),
            F.sum("wt").alias("tw"),
        )
        .filter(F.col("tw") > 0)
    )
    return means.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.5)"), 4).alias("ci_mid"),
        F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
    )


# --------------------------------------------- multi-touch attribution

_MTA_WINDOW_DAYS = 7

_MTA_ORACLE = f"""
WITH clicks AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts,
         CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS channel
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT event_id AS conv_id, user_id, CAST(ts AS TIMESTAMP) AS pts, value
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT p.conv_id, p.value, c.channel,
         row_number() OVER (PARTITION BY p.conv_id
                            ORDER BY c.cts, c.event_id) AS pos,
         count(*) OVER (PARTITION BY p.conv_id) AS n_touches
  FROM purchases p
  JOIN clicks c
    ON c.user_id = p.user_id
   AND c.cts < p.pts
   AND c.cts >= p.pts - INTERVAL {_MTA_WINDOW_DAYS} DAY
),
credited AS (
  SELECT channel, n_touches,
         value / n_touches AS linear_credit,
         value * (CASE
           WHEN n_touches = 1 THEN 1.0
           WHEN n_touches = 2 THEN 0.5
           WHEN pos = 1 THEN 0.4
           WHEN pos = n_touches THEN 0.4
           ELSE 0.2 / (n_touches - 2)
         END) AS ushape_credit
  FROM touches
)
SELECT channel,
       count(*) AS n_touches,
       round(sum(linear_credit), 2) AS linear_credit,
       round(sum(ushape_credit), 2) AS ushape_credit
FROM credited
GROUP BY channel
ORDER BY channel
"""


@register("events_multitouch_attribution", oracle=_MTA_ORACLE, tags=("events", "join", "window-fn"))
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: every purchase's value is credited across
    ALL the user's clicks in the preceding 7 days — linear (equal split)
    and U-shaped (40% first touch, 40% last, 20% across the middle)
    side by side, per channel (a deterministic 5-way split of the
    event's props.k — the fixture's stand-in for a campaign/source
    dimension). Completes the attribution family: `events_click_
    attribution` answers last-click, this answers the budget-allocation
    question last-click is famously biased on (it starves discovery
    channels that open journeys).

    Plan: the same user-keyed fact-fact time-range join as the
    skew-join attribution query (AQE skew-split applies unchanged);
    position/touch-count windows partition by CONVERSION id — millions
    of small groups, a hash exchange, never a global sort; credit
    arithmetic is map-side. Ordering inside a conversion is totalized
    by (click ts, event_id); all weights are exact CASE fractions and
    the credits round(2) after summation."""
    events = load_tables(spark, sf_dir)["events"]
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("cts"),
        (F.get_json_object("props", "$.k").cast("bigint") % 5).alias("channel"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        "value",
    )
    touches = purchases.join(
        clicks,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("cts") < F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr(f"INTERVAL {_MTA_WINDOW_DAYS} DAY")),
    )
    w_pos = Window.partitionBy("conv_id").orderBy("cts", "click_id")
    w_all = Window.partitionBy("conv_id")
    credited = touches.select(
        "channel",
        "value",
        F.row_number().over(w_pos).alias("pos"),
        F.count(F.lit(1)).over(w_all).alias("n_touches"),
    ).select(
        "channel",
        (F.col("value") / F.col("n_touches")).alias("linear_credit"),
        (
            F.col("value")
            * F.when(F.col("n_touches") == 1, 1.0)
            .when(F.col("n_touches") == 2, 0.5)
            .when(F.col("pos") == 1, 0.4)
            .when(F.col("pos") == F.col("n_touches"), 0.4)
            .otherwise(0.2 / (F.col("n_touches") - 2))
        ).alias("ushape_credit"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum("linear_credit"), 2).alias("linear_credit"),
            F.round(F.sum("ushape_credit"), 2).alias("ushape_credit"),
        )
        .orderBy("channel")
    )


# ------------------------------------------- Mann-Whitney U (rank test)

_MWU_ORACLE = """
WITH p AS (
  SELECT round(value, 2) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
  FROM events WHERE event_type IN ('click', 'view')
),
vals AS (
  SELECT v, CAST(sum(ia) AS BIGINT) AS cnt_a, count(*) AS cnt
  FROM p GROUP BY v
),
c AS (
  SELECT v, cnt_a, cnt,
         sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM vals
),
s AS (
  SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
         CAST(sum(cnt - cnt_a) AS BIGINT) AS n_b,
         CAST(sum(cnt) AS BIGINT) AS nn,
         sum(cnt_a * (cum - cnt + (cnt + 1) / 2.0)) AS r_a,
         sum(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie
  FROM c
),
u AS (
  SELECT n_a, n_b, nn,
         r_a - n_a * (n_a + 1) / 2.0 AS u_a,
         sqrt(n_a * CAST(n_b AS DOUBLE) / 12.0
              * ((nn + 1) - tie / (nn * (nn - 1.0)))) AS sigma
  FROM s
)
SELECT n_a, n_b,
       round(u_a, 2) AS u_stat,
       round((u_a - n_a * CAST(n_b AS DOUBLE) / 2.0) / sigma, 4) AS z,
       abs((u_a - n_a * CAST(n_b AS DOUBLE) / 2.0) / sigma) > 1.96
         AS significant_95
FROM u
"""


@register("events_abtest_mannwhitney", oracle=_MWU_ORACLE, tags=("events", "stats", "window-fn"))
def events_abtest_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U on the click-vs-view arms — the NONPARAMETRIC
    member the A/B suite (`events_abtest_{ttest,srm,power,cuped}`)
    lacked: rank-based, so heavy-tailed revenue-style metrics that
    violate the t-test's normality assumption still get a valid test.
    Tie-midranked with the standard tie-corrected normal approximation.

    Plan — and a third anchor for `ranking.global_cumsum`: pooled rows
    reduce to the DISTINCT-rounded-value relation (one partial-agg'd
    shuffle), midranks come from the distributed prefix-sum of tie-group
    counts over the value order (NO single-partition window even if the
    value domain is data-sized), and the test statistic is one final
    1-row aggregate. Exactness: midranks are .5-granular doubles and
    every product/sum stays below 2^53 at fixture scale, so R_a, U and
    z are engine-identical before their rounds."""
    from .ranking import global_cumsum

    events = load_tables(spark, sf_dir)["events"]
    p = events.filter(F.col("event_type").isin("click", "view")).select(
        F.round("value", 2).alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
    )
    vals = p.groupBy("v").agg(
        F.sum("ia").cast("bigint").alias("cnt_a"),
        F.count(F.lit(1)).alias("cnt"),
    )
    c = global_cumsum(vals, ["v"], "cnt", cumsum_col="cum")
    mid = F.col("cum") - F.col("cnt") + (F.col("cnt") + 1) / 2.0
    s = c.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("bigint").alias("n_b"),
        F.sum("cnt").cast("bigint").alias("nn"),
        F.sum(F.col("cnt_a") * mid).alias("r_a"),
        F.sum(
            F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie"),
    )
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    sigma = F.sqrt(
        F.col("n_a") * F.col("n_b").cast("double") / 12.0
        * (
            (F.col("nn") + 1)
            - F.col("tie") / (F.col("nn") * (F.col("nn") - 1.0))
        )
    )
    z = (u_a - F.col("n_a") * F.col("n_b").cast("double") / 2.0) / sigma
    return s.select(
        "n_a",
        "n_b",
        F.round(u_a, 2).alias("u_stat"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


# --------------------------------------- Kolmogorov-Smirnov two-sample

_KS_ORACLE = """
WITH p AS (
  SELECT round(value, 2) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
  FROM events WHERE event_type IN ('click', 'view')
),
vals AS (
  SELECT v, CAST(sum(ia) AS BIGINT) AS cnt_a,
         CAST(count(*) - sum(ia) AS BIGINT) AS cnt_b
  FROM p GROUP BY v
),
c AS (
  SELECT v,
         sum(cnt_a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
         sum(cnt_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM vals
),
s AS (
  SELECT (SELECT sum(cnt_a) FROM vals) AS n_a,
         (SELECT sum(cnt_b) FROM vals) AS n_b
),
d AS (
  SELECT max(abs(CAST(cum_a AS DOUBLE) / n_a - CAST(cum_b AS DOUBLE) / n_b))
           AS d_stat
  FROM c, s
)
SELECT CAST(s.n_a AS BIGINT) AS n_a,
       CAST(s.n_b AS BIGINT) AS n_b,
       round(d.d_stat, 6) AS d_stat,
       round(1.358 * sqrt((s.n_a + CAST(s.n_b AS DOUBLE))
                          / (s.n_a * CAST(s.n_b AS DOUBLE))), 6) AS d_crit_95,
       d.d_stat > 1.358 * sqrt((s.n_a + CAST(s.n_b AS DOUBLE))
                               / (s.n_a * CAST(s.n_b AS DOUBLE)))
         AS distributions_differ_95
FROM d, s
"""


@register("events_abtest_ks", oracle=_KS_ORACLE, tags=("events", "stats", "window-fn"))
def events_abtest_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov on the click-vs-view arms: the max
    gap between the two empirical CDFs, against the 95% critical value
    c(α)·sqrt((n_a+n_b)/(n_a·n_b)) — the WHOLE-DISTRIBUTION test
    completing the comparison trio (t-test: means; Mann-Whitney: ranks;
    KS: any distributional difference, including variance/shape shifts
    the other two are blind to).

    Plan: the same distinct-rounded-value reduction as the rank test,
    then BOTH arms' cumulative counts come from ONE
    `ranking.global_cumsum` call (the multi-column prefix-sum: one range
    exchange, one offsets fold, two running sums), a map-side CDF-gap
    projection, and a 1-row max. Exactness: CDF values are
    integer/integer divisions of identical longs — engine-identical
    doubles — and the max over identical sets is exact before round(6)."""
    from .ranking import global_cumsum

    events = load_tables(spark, sf_dir)["events"]
    p = events.filter(F.col("event_type").isin("click", "view")).select(
        F.round("value", 2).alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
    )
    vals = p.groupBy("v").agg(
        F.sum("ia").cast("bigint").alias("cnt_a"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("bigint").alias("cnt_b"),
    )
    c = global_cumsum(
        vals, ["v"], ["cnt_a", "cnt_b"], cumsum_col=["cum_a", "cum_b"]
    )
    totals = vals.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt_b").cast("bigint").alias("n_b"),
    )
    gaps = c.crossJoin(F.broadcast(totals)).select(
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a").cast("double") / F.col("n_a")
            - F.col("cum_b").cast("double") / F.col("n_b")
        ).alias("gap"),
    )
    d_crit = 1.358 * F.sqrt(
        (F.col("n_a") + F.col("n_b").cast("double"))
        / (F.col("n_a") * F.col("n_b").cast("double"))
    )
    return gaps.groupBy("n_a", "n_b").agg(
        F.max("gap").alias("d_raw")
    ).select(
        "n_a",
        "n_b",
        F.round("d_raw", 6).alias("d_stat"),
        F.round(d_crit, 6).alias("d_crit_95"),
        (F.col("d_raw") > d_crit).alias("distributions_differ_95"),
    )


# ------------------------------------- two-proportion z-test on cohorts

_PROP_THRESHOLD = 15  # "heavy purchaser": >= 15 purchase events

_FUNNEL_SIG_ORACLE = f"""
WITH pc AS (
  SELECT user_id, user_id % 2 AS cohort,
         CASE WHEN count(*) FILTER (WHERE event_type = 'purchase')
                   >= {_PROP_THRESHOLD} THEN 1 ELSE 0 END AS heavy
  FROM events
  GROUP BY user_id
),
g AS (
  SELECT cohort, count(*) AS n_users, CAST(sum(heavy) AS BIGINT) AS n_heavy
  FROM pc GROUP BY cohort
),
a AS (SELECT * FROM g WHERE cohort = 0),
b AS (SELECT * FROM g WHERE cohort = 1),
s AS (
  SELECT a.n_users AS n1, a.n_heavy AS x1,
         b.n_users AS n2, b.n_heavy AS x2,
         CAST(a.n_heavy AS DOUBLE) / a.n_users AS p1,
         CAST(b.n_heavy AS DOUBLE) / b.n_users AS p2,
         CAST(a.n_heavy + b.n_heavy AS DOUBLE)
           / (a.n_users + b.n_users) AS pp
  FROM a, b
)
SELECT CAST(n1 AS BIGINT) AS n1, x1, round(p1, 6) AS rate_a,
       CAST(n2 AS BIGINT) AS n2, x2, round(p2, 6) AS rate_b,
       round((p1 - p2) / sqrt(pp * (1 - pp) * (1.0 / n1 + 1.0 / n2)), 4)
         AS z,
       abs((p1 - p2) / sqrt(pp * (1 - pp) * (1.0 / n1 + 1.0 / n2))) > 1.96
         AS significant_95
FROM s
"""


@register("events_proportion_ztest", oracle=_FUNNEL_SIG_ORACLE, tags=("events", "stats", "agg"))
def events_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between the odd/even user cohorts on a
    binary metric — share of heavy purchasers (>= 15 purchase events) —
    with the pooled-proportion standard error: the test every
    experimentation readout runs on its conversion-RATE metrics, which
    the suite's continuous-metric tests (t, Mann-Whitney, KS) don't
    cover. The metric is deliberately a thresholded count, not a bare
    did-X flag: with ~100 events per fixture user every bare flag
    saturates to 1, p̂(1-p̂) collapses to 0, and the z denominator
    degenerates (found by the ANSI divide-by-zero guard in testing —
    the fixture's lesson that proportion tests need interior rates).

    Plan: one user-keyed conditional aggregate collapses events to a
    per-user flag, one 2-row cohort aggregate, then pure scalar
    arithmetic on a 1-row join of the two cohorts. Rates are single
    IEEE divisions of identical longs; z rounds at 4."""
    events = load_tables(spark, sf_dir)["events"]
    pc = events.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= _PROP_THRESHOLD,
            1,
        )
        .otherwise(0)
        .alias("heavy")
    ).select((F.col("user_id") % 2).alias("cohort"), "heavy")
    g = pc.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("heavy").cast("bigint").alias("n_heavy"),
    )
    a = g.filter(F.col("cohort") == 0).select(
        F.col("n_users").alias("n1"), F.col("n_heavy").alias("x1")
    )
    b = g.filter(F.col("cohort") == 1).select(
        F.col("n_users").alias("n2"), F.col("n_heavy").alias("x2")
    )
    s = a.crossJoin(F.broadcast(b))
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    return s.select(
        "n1",
        "x1",
        F.round(p1, 6).alias("rate_a"),
        "n2",
        "x2",
        F.round(p2, 6).alias("rate_b"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


# --------------------------------------- Benjamini-Hochberg FDR control

# Two-sided |z| thresholds for p = k/m * alpha with m=5 hypotheses,
# alpha=0.05: p in {0.01, 0.02, 0.03, 0.04, 0.05}. Hardcoded inverse
# -normal constants keep both engines erf-free and bit-identical.
_BH_Z = ("2.5758", "2.3263", "2.1701", "2.0537", "1.9600")

_BH_CASE = (
    "CASE rnk "
    + " ".join(f"WHEN {i + 1} THEN {z}" for i, z in enumerate(_BH_Z))
    + " END"
)

_BH_ORACLE = f"""
WITH g AS (
  SELECT event_type, count(*) AS n,
         avg(value) AS mean, var_samp(value) AS var
  FROM events GROUP BY event_type
),
tot AS (
  SELECT count(*) AS n_all, avg(value) AS mean_all, var_samp(value) AS var_all
  FROM events
),
hyp AS (
  SELECT event_type,
         round(abs((g.mean - tot.mean_all)
               / sqrt(g.var / g.n + tot.var_all / tot.n_all)), 4) AS abs_z
  FROM g, tot
),
ranked AS (
  SELECT event_type, abs_z,
         row_number() OVER (ORDER BY abs_z DESC, event_type) AS rnk
  FROM hyp
),
cut AS (
  SELECT coalesce(max(rnk), 0) AS k_max
  FROM ranked WHERE abs_z >= {_BH_CASE}
),
fam AS (SELECT count(*) AS fm FROM ranked)
SELECT event_type, abs_z, CAST(rnk AS BIGINT) AS rnk,
       round(CAST({_BH_CASE} AS DOUBLE), 4) AS z_threshold,
       rnk <= k_max AS rejected,
       CAST(fm AS BIGINT) AS family_m,
       CAST(least(fm, {len(_BH_Z)}) AS BIGINT) AS tested_m
FROM ranked, cut, fam
ORDER BY rnk
"""


@register("events_bh_fdr_control", oracle=_BH_ORACLE, tags=("events", "stats"))
def events_bh_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control across the family of per-type mean
    hypotheses ("does this event type's mean value differ from the
    corpus mean?"): rank the |z| statistics, compare each against its
    step-up threshold (the inverse-normal of k/m·α, hardcoded so no erf
    is needed engine-side), and reject every hypothesis at or above the
    LARGEST rank that clears its threshold — the step-up rule. This is
    the guardrail the A/B suite needed once it grew to many tests: per
    -test α=0.05 across m tests inflates false positives; BH bounds the
    expected false-discovery RATE instead.

    Plan: one type-cardinality aggregate + one 1-row grand aggregate
    build the hypothesis relation (m = event-type arity, bounded by
    schema, NOT data) — so the ranking window and the step-up max run
    over m rows by construction. The z denominators are single IEEE
    ops on round-free moments, with |z| rounded at 4 BEFORE ranking so
    rank order is engine-identical."""
    events = load_tables(spark, sf_dir)["events"]
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("var"),
    )
    tot = events.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.avg("value").alias("mean_all"),
        F.var_samp("value").alias("var_all"),
    )
    hyp = g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.round(
            F.abs(
                (F.col("mean") - F.col("mean_all"))
                / F.sqrt(
                    F.col("var") / F.col("n")
                    + F.col("var_all") / F.col("n_all")
                )
            ),
            4,
        ).alias("abs_z"),
    )
    w = Window.orderBy(F.col("abs_z").desc(), "event_type")
    ranked = hyp.select(
        "event_type", "abs_z", F.row_number().over(w).alias("rnk")
    )
    thresh = F.expr(_BH_CASE)
    cut = ranked.filter(F.col("abs_z") >= thresh).agg(
        F.coalesce(F.max("rnk"), F.lit(0)).alias("k_max")
    )
    # family-visibility columns (the chisq-dof pattern):
    # the z table is hardcoded for ranks 1..len(_BH_Z) at m=len(_BH_Z);
    # if event-type arity ever exceeds it, ranks past the table get NULL
    # thresholds and silently fall out of the step-up family on BOTH
    # engines. family_m (true arity) vs tested_m (table-bounded) makes
    # that truncation visible in the output instead of silent.
    fam = ranked.agg(F.count(F.lit(1)).alias("fm"))
    return (
        ranked.crossJoin(F.broadcast(cut))
        .crossJoin(F.broadcast(fam))
        .select(
            "event_type",
            "abs_z",
            F.col("rnk").cast("bigint").alias("rnk"),
            # decimal-literal CASE -> cast: Spark and DuckDB both parse
            # 2.5758-style literals as DECIMAL (the skill-documented trap)
            F.round(thresh.cast("double"), 4).alias("z_threshold"),
            (F.col("rnk") <= F.col("k_max")).alias("rejected"),
            F.col("fm").cast("bigint").alias("family_m"),
            F.least(F.col("fm"), F.lit(len(_BH_Z)))
            .cast("bigint")
            .alias("tested_m"),
        )
        .orderBy("rnk")
    )


# ------------------------------------- empirical-Bayes mean shrinkage

_EB_ORACLE = """
WITH g AS (
  SELECT event_type, count(*) AS n,
         avg(value) AS mean, var_samp(value) AS var
  FROM events GROUP BY event_type
),
tot AS (
  SELECT sum(n * mean) / sum(n) AS grand,
         avg(var / n) AS v_bar,
         count(*) AS m
  FROM g
),
tau AS (
  SELECT greatest(
           sum((g.mean - tot.grand) * (g.mean - tot.grand)) / (tot.m - 1)
             - tot.v_bar,
           0.0) AS tau2
  FROM g, tot
  GROUP BY tot.m, tot.v_bar
)
SELECT g.event_type,
       g.n,
       round(g.mean, 6) AS raw_mean,
       round(tau.tau2 / (tau.tau2 + g.var / g.n), 6) AS shrink_weight,
       round(tot.grand + tau.tau2 / (tau.tau2 + g.var / g.n)
                         * (g.mean - tot.grand), 6) AS shrunk_mean
FROM g, tot, tau
ORDER BY g.event_type
"""


@register("events_eb_shrunk_means", oracle=_EB_ORACLE, tags=("events", "stats", "agg"))
def events_eb_shrunk_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (parametric, method-of-moments) shrinkage of the
    per-event-type mean values toward the grand mean: each group's
    estimate moves by weight τ²/(τ² + σ²ᵢ/nᵢ) — noisy small groups
    shrink hard, precise big groups barely move. This is the estimator
    behind every per-segment metric dashboard that doesn't want its
    smallest segment topping the leaderboard on noise, and the
    James-Stein-flavored sibling of the suite's testing queries:
    BH says WHICH segments differ, shrinkage says by HOW MUCH once
    noise is priced in. τ² is the moments estimate (between-group
    variance minus mean sampling variance, floored at 0 — the floor
    collapses all groups to the grand mean when between-group spread is
    pure noise).

    Plan: one type-cardinality moment aggregate; the grand/τ² reductions
    run over m = event-type-arity rows (schema-bounded); output is pure
    scalar arithmetic broadcast back. All quantities derive from the
    same raw moments in both engines, with rounding only at the
    output."""
    events = load_tables(spark, sf_dir)["events"]
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("var"),
    )
    tot = g.agg(
        (F.sum(F.col("n") * F.col("mean")) / F.sum("n")).alias("grand"),
        F.avg(F.col("var") / F.col("n")).alias("v_bar"),
        F.count(F.lit(1)).alias("m"),
    )
    tau = (
        g.crossJoin(F.broadcast(tot))
        .agg(
            F.greatest(
                F.sum(
                    (F.col("mean") - F.col("grand"))
                    * (F.col("mean") - F.col("grand"))
                )
                / (F.max("m") - 1)
                - F.max("v_bar"),
                F.lit(0.0),
            ).alias("tau2")
        )
    )
    w_shrink = F.col("tau2") / (F.col("tau2") + F.col("var") / F.col("n"))
    return (
        g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tau))
        .select(
            "event_type",
            "n",
            F.round("mean", 6).alias("raw_mean"),
            F.round(w_shrink, 6).alias("shrink_weight"),
            F.round(
                F.col("grand") + w_shrink * (F.col("mean") - F.col("grand")),
                6,
            ).alias("shrunk_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------- chi-square test of independence

_CHISQ_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST(date_part('hour', CAST(ts AS TIMESTAMP)) // 6 AS BIGINT)
           AS daypart,
         count(*) AS o
  FROM events GROUP BY 1, 2
),
rows_ AS (
  SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1
),
cols_ AS (
  SELECT daypart, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1
),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
contrib AS (
  SELECT cells.o,
         round(rows_.r * cols_.c * 1.0 / tot.n, 6) AS e
  FROM cells
  JOIN rows_ USING (event_type)
  JOIN cols_ USING (daypart)
  CROSS JOIN tot
),
stat AS (
  SELECT round(sum((o - e) * (o - e) / e), 4) AS chi2,
         (SELECT count(*) FROM rows_) AS n_rows,
         (SELECT count(*) FROM cols_) AS n_cols,
         (SELECT n FROM tot) AS n_total
  FROM contrib
)
SELECT n_rows, n_cols, n_total,
       CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
       chi2,
       round(sqrt(chi2 / (n_total * least(n_rows - 1, n_cols - 1))), 4)
         AS cramers_v,
       chi2 > 21.03 AS significant_05
FROM stat
"""


@register(
    "events_chisq_independence",
    oracle=_CHISQ_ORACLE,
    tags=("events", "agg", "stats"),
)
def events_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence on the event_type x
    daypart (hour // 6: night/morning/afternoon/evening) contingency
    table, with Cramer's V effect size — the categorical-association
    screen the A/B suite lacks (t/z/KS/MWU all need a numeric metric;
    this one answers "does WHEN depend on WHAT"). 21.03 is the
    chi-square 5% critical value at the fixture's (5-1)x(4-1)=12 dof;
    the dof column keeps the threshold honest if the type arity drifts.

    Plan: one partial-agg'd shuffle to the R x C cell grid (bounded by
    type-arity x 4 BY CONSTRUCTION, not SF); marginals are re-aggregates
    of the cells and rejoin the grid as broadcast hash joins; the 1-row
    total crosses back broadcast. Expected counts are pre-rounded at 6
    so each cell's contribution compares identical operands cross-engine
    before the final round at 4."""
    events = load_tables(spark, sf_dir)["events"]
    cells = events.groupBy(
        "event_type",
        (F.hour("ts").cast("bigint") / 6).cast("bigint").alias("daypart"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_ = cells.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("r")
    )
    cols_ = cells.groupBy("daypart").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    contrib = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "daypart")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            F.round(F.col("r") * F.col("c") / F.col("n"), 6).alias("e"),
        )
    )
    stat = contrib.agg(
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
            4,
        ).alias("chi2")
    )
    dims = (
        rows_.agg(F.count(F.lit(1)).alias("n_rows"))
        .crossJoin(F.broadcast(cols_.agg(F.count(F.lit(1)).alias("n_cols"))))
        .crossJoin(F.broadcast(tot.select(F.col("n").alias("n_total"))))
    )
    return stat.crossJoin(F.broadcast(dims)).select(
        "n_rows",
        "n_cols",
        "n_total",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
        .cast("bigint")
        .alias("dof"),
        "chi2",
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n_total")
                    * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
                )
            ),
            4,
        ).alias("cramers_v"),
        (F.col("chi2") > 21.03).alias("significant_05"),
    )


# ------------------------------------------- Kaplan-Meier survival curve

_KM_ORACLE = """
WITH horizon AS (
  SELECT max(CAST(o_orderdate AS TIMESTAMP)) AS obs_end FROM orders
),
per_cust AS (
  SELECT o_custkey,
         min(CAST(o_orderdate AS TIMESTAMP)) AS first_o,
         max(CAST(o_orderdate AS TIMESTAMP)) AS last_o
  FROM orders GROUP BY 1
),
labeled AS (
  SELECT date_diff('day', p.first_o, p.last_o) // 30 AS dur_month,
         CASE WHEN date_diff('day', p.last_o, h.obs_end) > 365
              THEN 1 ELSE 0 END AS churned
  FROM per_cust p CROSS JOIN horizon h
),
axis AS (
  SELECT dur_month,
         CAST(sum(churned) AS BIGINT) AS d,
         CAST(sum(1 - churned) AS BIGINT) AS c
  FROM labeled GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM labeled),
at_risk AS (
  SELECT dur_month, d, c,
         CAST(t - coalesce(sum(d + c) OVER (ORDER BY dur_month
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_at_risk
  FROM axis CROSS JOIN tot
),
factors AS (
  SELECT dur_month, n_at_risk, d, c,
         round(1.0 - d * 1.0 / n_at_risk, 6) AS factor
  FROM at_risk
)
SELECT dur_month, n_at_risk, d AS n_churned, c AS n_censored,
       round(exp(sum(ln(greatest(factor, 1e-12))) OVER (ORDER BY dur_month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
         AS survival
FROM factors
ORDER BY dur_month
"""


@register(
    "customers_kaplan_meier",
    oracle=_KM_ORACLE,
    tags=("orders", "stats", "window-fn"),
)
def customers_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer lifetime (months from
    first to last order), right-censoring customers still active within
    365 days of the observation horizon — the nonparametric survival
    estimator completing the churn family: `customers_churn_census`
    counts WHO is gone, `events_conversion_hazard` gives the per-day
    hazard; this gives S(t), the probability a customer relationship
    SURVIVES past t months, correct under censoring (naive churn rates
    over-count customers whose history was simply cut off by the
    horizon).

    S(t) = prod_{u<=t} (1 - d_u / n_u) with d_u = churn events at
    lifetime u and n_u = at-risk count (everyone whose lifetime >= u).

    Plan: the per-customer min/max collapse is one partial-agg'd
    shuffle on o_custkey; everything after lives on the lifetime-month
    axis, bounded by the fixture's calendar span / 30 BY CONSTRUCTION —
    the at-risk exclusive prefix and the cumulative product (exp-sum-ln
    with factors pre-rounded at 6, final at 4; the 1e-12 floor makes a
    terminal d=n month collapse to S=0 identically cross-engine) are
    windows over that bounded axis, allowlisted in the plan audit. The
    1-row horizon and total cross back broadcast."""
    orders = load_tables(spark, sf_dir)["orders"]
    horizon = orders.agg(F.max("o_orderdate").alias("obs_end"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_o"),
        F.max("o_orderdate").alias("last_o"),
    )
    labeled = per_cust.crossJoin(F.broadcast(horizon)).select(
        (F.datediff("last_o", "first_o") / 30)
        .cast("bigint")
        .alias("dur_month"),
        F.when(F.datediff("obs_end", "last_o") > 365, F.lit(1))
        .otherwise(F.lit(0))
        .alias("churned"),
    )
    axis = labeled.groupBy("dur_month").agg(
        F.sum("churned").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("churned")).cast("bigint").alias("c"),
    )
    tot = labeled.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    w_prev = Window.orderBy("dur_month").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("dur_month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = (
        axis.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_at_risk",
            F.col("t")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            ),
        )
        .withColumn(
            "factor", F.round(1.0 - F.col("d") / F.col("n_at_risk"), 6)
        )
    )
    return at_risk.select(
        "dur_month",
        "n_at_risk",
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        F.round(
            F.exp(
                F.sum(F.log(F.greatest(F.col("factor"), F.lit(1e-12)))).over(
                    w_cum
                )
            ),
            4,
        ).alias("survival"),
    ).orderBy("dur_month")


# -------------------------------------------- skewness / kurtosis census

_SKEWKURT_ORACLE = """
WITH mu AS (
  SELECT event_type, count(*) AS n, round(avg(value), 6) AS mean
  FROM events GROUP BY 1
),
cm AS (
  SELECT e.event_type,
         max(m.n) AS n, max(m.mean) AS mean,
         round(avg((e.value - m.mean) * (e.value - m.mean)), 6) AS m2,
         round(avg((e.value - m.mean) * (e.value - m.mean)
                   * (e.value - m.mean)), 2) AS m3,
         round(avg((e.value - m.mean) * (e.value - m.mean)
                   * (e.value - m.mean) * (e.value - m.mean)), 2) AS m4
  FROM events e JOIN mu m USING (event_type)
  GROUP BY e.event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n, mean, m2,
       round(m3 / (m2 * sqrt(m2)), 4) AS skewness,
       round(m4 / (m2 * m2) - 3.0, 4) AS excess_kurtosis
FROM cm
ORDER BY event_type
"""


@register("events_skewness_kurtosis", oracle=_SKEWKURT_ORACLE, tags=("events", "agg", "stats"))
def events_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type skewness and excess kurtosis of event value — the shape
    moments behind distribution screens (heavy tails break mean-based
    alerting; `events_anomaly_mad` is the robust response, this
    quantifies WHEN it's needed). Population convention m3/m2^1.5 and
    m4/m2^2 - 3, computed from CENTRAL moments about the pre-rounded
    mean — NOT the built-in skewness()/kurtosis() aggregates, whose
    sample-vs-population bias conventions differ between engines.

    Plan: two passes, both partial-agg'd groupBys on event_type; the
    5-row means broadcast back for the centered pass. Mean rounds at 6,
    m2 at 6, m3/m4 at 2 (their summands reach ~1e8/1e10 while
    cross-engine float-sum drift stays ~1e-6 — far inside the rounding
    grid, same determinism argument as the ANOVA moments), then the
    ratios divide identical doubles cross-engine."""
    events = load_tables(spark, sf_dir)["events"]
    mu = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean"),
    )
    d = F.col("value") - F.col("mean")
    cm = (
        events.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("mean").alias("mean"),
            F.round(F.avg(d * d), 6).alias("m2"),
            F.round(F.avg(d * d * d), 2).alias("m3"),
            F.round(F.avg(d * d * d * d), 2).alias("m4"),
        )
    )
    return cm.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "mean",
        "m2",
        F.round(F.col("m3") / (F.col("m2") * F.sqrt("m2")), 4).alias(
            "skewness"
        ),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0, 4).alias(
            "excess_kurtosis"
        ),
    ).orderBy("event_type")


# ----------------------------- out-of-fold target encoding (leakage-free)

_TE_FOLDS = 5

_TARGET_ENCODING_ORACLE = f"""
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 8))
              AS UBIGINT) % {_TE_FOLDS} AS fold,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
seg AS (
  SELECT segment, fold, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
  FROM base GROUP BY 1, 2
),
tot AS (
  SELECT segment, CAST(sum(n) AS BIGINT) AS seg_n,
         CAST(sum(s) AS BIGINT) AS seg_s
  FROM seg GROUP BY 1
),
grand AS (
  SELECT CAST(sum(n) AS BIGINT) AS g_n, CAST(sum(s) AS BIGINT) AS g_s
  FROM seg
)
SELECT sf.segment,
       CAST(sf.fold AS INTEGER) AS fold,
       CAST(sf.n AS BIGINT) AS n_rows,
       round(CASE WHEN t.seg_n > sf.n
                  THEN (t.seg_s - sf.s) * 1.0 / (t.seg_n - sf.n)
                  ELSE (g.g_s - sf.s) * 1.0 / (g.g_n - sf.n)
             END / 100.0, 4) AS oof_encoding
FROM seg sf JOIN tot t ON sf.segment = t.segment
CROSS JOIN grand g
ORDER BY sf.segment, fold
"""


@register(
    "orders_target_encoding_oof",
    oracle=_TARGET_ENCODING_ORACLE,
    tags=("llm", "pipeline", "stats"),
)
def orders_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free (out-of-fold) target encoding — the classic
    high-cardinality categorical feature for tabular models: each
    (category, fold) cell is encoded with the target mean computed from
    the OTHER folds only, so a row never sees its own target. Folds are
    md5-deterministic (engine-stable, reproducible across re-runs and
    ingests, same contract as `text_hash_split`); money folds to exact
    integer cents before the sums so the subtraction identity
    (seg_total - fold_total) is exact. Degenerate cells (a category
    entirely inside one fold) fall back to the out-of-fold GLOBAL mean
    rather than dividing by zero.

    Scale shape: one fact-dim join (AQE broadcasts the dim at fixture
    scale), ONE (category, fold) partial-agg'd shuffle — the per-cell
    encodings then derive from that 25-row relation by pure arithmetic
    (category totals and the grand total are re-aggregations of it, all
    broadcast-sized). No per-fold pass over the fact table: K-fold
    encoding at 100 TB costs exactly one aggregation."""
    t = load_tables(spark, sf_dir)
    base = (
        t["orders"]
        .join(
            t["customer"],
            t["orders"]["o_custkey"] == t["customer"]["c_custkey"],
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            _md5_bucket(
                F.col("o_orderkey").cast("string"), _TE_FOLDS
            ).alias("fold"),
            _cents("o_totalprice").alias("cents"),
        )
    )
    seg = base.groupBy("segment", "fold").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    tot = seg.groupBy("segment").agg(
        F.sum("n").alias("seg_n"), F.sum("s").alias("seg_s")
    )
    grand = seg.agg(
        F.sum("n").alias("g_n"), F.sum("s").alias("g_s")
    )
    out = (
        seg.join(tot, "segment")
        .crossJoin(F.broadcast(grand))
        .select(
            "segment",
            F.col("fold").cast("int").alias("fold"),
            F.col("n").cast("long").alias("n_rows"),
            F.round(
                F.when(
                    F.col("seg_n") > F.col("n"),
                    (F.col("seg_s") - F.col("s"))
                    * F.lit(1.0)
                    / (F.col("seg_n") - F.col("n")),
                ).otherwise(
                    (F.col("g_s") - F.col("s"))
                    * F.lit(1.0)
                    / (F.col("g_n") - F.col("n"))
                )
                / F.lit(100.0),
                4,
            ).alias("oof_encoding"),
        )
    )
    return out.orderBy("segment", "fold")


# -------------------------- seeded negative sampling (recommender duty)

_NEG_K = 8

_NEG_SAMPLING_ORACLE = f"""
WITH pn AS (SELECT count(*) AS p FROM part),
cand AS (
  SELECT c.c_custkey AS cust, t.i,
         CAST(('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR) || ':'
                                  || CAST(t.i AS VARCHAR)), 1, 8))
              AS UBIGINT) % (SELECT p FROM pn) + 1 AS pk
  FROM customer c, unnest(range(0, {_NEG_K})) AS t(i)
),
inter AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS pk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
acc AS (
  SELECT cand.cust, cand.pk FROM cand
  LEFT JOIN inter ON cand.cust = inter.cust AND cand.pk = inter.pk
  WHERE inter.cust IS NULL
)
SELECT (SELECT count(*) FROM cand) AS n_candidates,
       (SELECT count(*) FROM cand) - count(*) AS n_rejected_positive,
       count(*) AS n_accepted,
       count(DISTINCT pk) AS n_distinct_parts,
       CAST(sum((cust * 100000 + pk) % 1000000007) AS BIGINT) AS checksum
FROM acc
"""


@register(
    "customers_negative_sampling",
    oracle=_NEG_SAMPLING_ORACLE,
    tags=("llm", "pipeline"),
)
def customers_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded negative sampling for recommender / contrastive training:
    every customer draws k=_NEG_K (8) candidate parts by md5(customer:i)
    modulo the catalog size (deterministic, engine-stable — the sampling
    itself is oracle-checkable, unlike rand()-based draws), then true
    interactions are REJECTED by an anti-join against the distinct
    (customer, part) purchase relation. Output: the candidate/rejection
    /acceptance census plus a value checksum over the accepted pairs.

    Scale shape: candidate generation is map-only off the customer
    relation (a k-element sequence explode — k is a constant, not a
    data axis); the positives relation is ONE distinct projection of
    the order-lines fact; the rejection is a single (cust, part)
    hash-partitioned anti-join. Nothing rescans the fact per candidate,
    and the accepted sample can be written out partitioned by the same
    hash — the standard shape for billions of negatives per epoch."""
    t = load_tables(spark, sf_dir)
    pn = t["part"].agg(F.count(F.lit(1)).alias("p"))
    cand = (
        t["customer"]
        .select(F.col("c_custkey").alias("cust"))
        .crossJoin(F.broadcast(pn))
        .select(
            "cust",
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("i"),
            "p",
        )
        .select(
            "cust",
            (
                _md5_bucket(
                    F.concat(
                        F.col("cust").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    ),
                    F.col("p"),
                )
                + 1
            ).alias("pk"),
        )
    )
    inter = (
        t["orders"]
        .join(
            t["lineitem"],
            t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"],
        )
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("pk")
        )
        .distinct()
    )
    from ..persistence import tracked_persist

    cand = tracked_persist(cand)  # feeds the census AND the anti-join
    acc = cand.join(inter, ["cust", "pk"], "left_anti")
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        acc.agg(
            F.count(F.lit(1)).alias("n_accepted"),
            F.count_distinct("pk").alias("n_distinct_parts"),
            F.sum(
                (F.col("cust") * 100000 + F.col("pk")) % 1000000007
            ).alias("checksum"),
        )
        .crossJoin(F.broadcast(n_cand))
        .select(
            "n_candidates",
            (F.col("n_candidates") - F.col("n_accepted")).alias(
                "n_rejected_positive"
            ),
            "n_accepted",
            "n_distinct_parts",
            "checksum",
        )
    )


# ----------------- mix/rate decomposition of period-over-period change

_MIX_Y1, _MIX_Y2 = 1996, 1997

_MIX_RATE_ORACLE = f"""
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CAST(strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y') AS INTEGER)
           AS yr,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE CAST(strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y') AS INTEGER)
        IN ({_MIX_Y1}, {_MIX_Y2})
),
cell AS (
  SELECT segment, yr, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
  FROM base GROUP BY 1, 2
),
tot AS (SELECT yr, CAST(sum(n) AS BIGINT) AS tn FROM cell GROUP BY 1),
wide AS (
  SELECT seg.segment,
         coalesce(c1.n, 0) AS n1, coalesce(c1.s, 0) AS s1,
         coalesce(c2.n, 0) AS n2, coalesce(c2.s, 0) AS s2,
         (SELECT tn FROM tot WHERE yr = {_MIX_Y1}) AS tn1,
         (SELECT tn FROM tot WHERE yr = {_MIX_Y2}) AS tn2
  FROM (SELECT DISTINCT segment FROM cell) seg
  LEFT JOIN cell c1 ON c1.segment = seg.segment AND c1.yr = {_MIX_Y1}
  LEFT JOIN cell c2 ON c2.segment = seg.segment AND c2.yr = {_MIX_Y2}
)
SELECT segment,
       round(n1 * 1.0 / tn1, 4) AS share_y1,
       round(n2 * 1.0 / tn2, 4) AS share_y2,
       round(CASE WHEN n1 > 0 THEN s1 * 1.0 / n1 / 100 ELSE 0 END, 2)
         AS avg_value_y1,
       round(CASE WHEN n2 > 0 THEN s2 * 1.0 / n2 / 100 ELSE 0 END, 2)
         AS avg_value_y2,
       round((n2 * 1.0 / tn2 - n1 * 1.0 / tn1)
             * (CASE WHEN n1 > 0 THEN s1 * 1.0 / n1 / 100 ELSE 0 END), 4)
         AS mix_effect,
       round((n2 * 1.0 / tn2)
             * ((CASE WHEN n2 > 0 THEN s2 * 1.0 / n2 / 100 ELSE 0 END)
                - (CASE WHEN n1 > 0 THEN s1 * 1.0 / n1 / 100 ELSE 0 END)),
             4) AS rate_effect
FROM wide
ORDER BY segment
"""


@register(
    "orders_mix_rate_decomposition",
    oracle=_MIX_RATE_ORACLE,
    tags=("agg", "stats"),
)
def orders_mix_rate_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix/rate (Oaxaca-style) decomposition of the year-over-year
    change in average order value, per customer segment: the change in
    the overall mean splits EXACTLY into a MIX effect (the segment's
    share of orders shifted, valued at its baseline rate) and a RATE
    effect (the segment's own average moved, weighted at its new
    share) — sum the two columns over segments and you reconstruct
    total_mean_y2 - total_mean_y1. The decomposition every revenue
    dashboard needs before attributing a drop to "customers spend less"
    vs "the customer base shifted".

    Determinism: counts and cent sums are exact integers; every ratio
    and effect derives from those integer operands by identical IEEE
    arithmetic in both engines, rounded only at presentation. One
    fact-dim join and ONE (segment, year) partial-agg'd shuffle; the
    year totals re-aggregate the 10-cell relation; the two-year pivot
    is a self-join of that same bounded relation."""
    t = load_tables(spark, sf_dir)
    base = (
        t["orders"]
        .join(
            t["customer"],
            t["orders"]["o_custkey"] == t["customer"]["c_custkey"],
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("yr"),
            _cents("o_totalprice").alias("cents"),
        )
        .filter(F.col("yr").isin(_MIX_Y1, _MIX_Y2))
    )
    cell = base.groupBy("segment", "yr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    from ..persistence import tracked_persist

    cell = tracked_persist(cell)  # 10 rows; read 4x (pivot sides, totals)
    tot = cell.groupBy("yr").agg(F.sum("n").alias("tn"))
    # 1-row GRAND aggregates, not filters: the oracle's scalar subquery
    # `(SELECT tn FROM tot WHERE yr = Y)` yields NULL when a pivot year
    # is absent, keeping every segment row with NULL shares — a bare
    # filter here would instead produce an EMPTY relation whose
    # crossJoin annihilates all rows (a row-count mismatch on any
    # fixture missing one of the two years). max over
    # the <=1 matching row is the scalar-subquery analog: 1 row, NULL
    # when the year is absent.
    t1 = tot.agg(
        F.max(F.when(F.col("yr") == _MIX_Y1, F.col("tn"))).alias("tn1")
    )
    t2 = tot.agg(
        F.max(F.when(F.col("yr") == _MIX_Y2, F.col("tn"))).alias("tn2")
    )
    segs = cell.select("segment").distinct()
    c1 = cell.filter(F.col("yr") == _MIX_Y1).select(
        "segment", F.col("n").alias("n1"), F.col("s").alias("s1")
    )
    c2 = cell.filter(F.col("yr") == _MIX_Y2).select(
        "segment", F.col("n").alias("n2"), F.col("s").alias("s2")
    )
    wide = (
        segs.join(c1, "segment", "left")
        .join(c2, "segment", "left")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .na.fill(0, ["n1", "s1", "n2", "s2"])
    )
    rate1 = F.when(
        F.col("n1") > 0, F.col("s1") * 1.0 / F.col("n1") / 100
    ).otherwise(0.0)
    rate2 = F.when(
        F.col("n2") > 0, F.col("s2") * 1.0 / F.col("n2") / 100
    ).otherwise(0.0)
    w1 = F.col("n1") * 1.0 / F.col("tn1")
    w2 = F.col("n2") * 1.0 / F.col("tn2")
    return wide.select(
        "segment",
        F.round(w1, 4).alias("share_y1"),
        F.round(w2, 4).alias("share_y2"),
        F.round(rate1, 2).alias("avg_value_y1"),
        F.round(rate2, 2).alias("avg_value_y2"),
        F.round((w2 - w1) * rate1, 4).alias("mix_effect"),
        F.round(w2 * (rate2 - rate1), 4).alias("rate_effect"),
    ).orderBy("segment")


# ------------------------------------------- WOE / IV supervised binning

_WOE_IV_ORACLE = """
WITH ret AS (
  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
),
lab AS (
  SELECT CAST(floor(log2(o_totalprice)) AS BIGINT) AS bin,
         CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS bad
  FROM orders o LEFT JOIN ret r ON o.o_orderkey = r.l_orderkey
  WHERE o_totalprice > 0
),
tot AS (
  SELECT CAST(sum(bad) AS BIGINT) AS bad_tot,
         CAST(count(*) - sum(bad) AS BIGINT) AS good_tot
  FROM lab
),
b AS (
  SELECT bin, count(*) AS n_orders, CAST(sum(bad) AS BIGINT) AS n_bad
  FROM lab GROUP BY bin
)
SELECT bin, n_orders, n_bad,
       CAST(n_orders - n_bad AS BIGINT) AS n_good,
       round(ln(
         CAST((2 * n_bad + 1) * (good_tot + 1) AS DOUBLE)
         / CAST((2 * (n_orders - n_bad) + 1) * (bad_tot + 1) AS DOUBLE)
       ), 6) AS woe,
       round((
         CAST(2 * n_bad + 1 AS DOUBLE) / CAST(2 * bad_tot + 2 AS DOUBLE)
         - CAST(2 * (n_orders - n_bad) + 1 AS DOUBLE)
           / CAST(2 * good_tot + 2 AS DOUBLE)
       ) * ln(
         CAST((2 * n_bad + 1) * (good_tot + 1) AS DOUBLE)
         / CAST((2 * (n_orders - n_bad) + 1) * (bad_tot + 1) AS DOUBLE)
       ), 6) AS iv_contrib
FROM b, tot
ORDER BY bin
"""


@register("orders_woe_iv_binning", oracle=_WOE_IV_ORACLE, tags=("stats", "pipeline"))
def orders_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value supervised binning — the
    classic feature-prep primitive for scoring models (and the
    feature-vs-label diagnostic quality-classifier pipelines run before
    training, next to `classifier_pr_auc` which evaluates after): bucket
    order value into log2 bins, label each order by whether any line
    came back ('R' returnflag), and score each bin's class separation as
    WOE = ln(bad_frac/good_frac) with Laplace (+0.5) smoothing; the
    per-bin IV contribution (bad_frac - good_frac)*WOE sums to the
    feature's information value.

    Exactness: the smoothed ratio is carried as ONE division of two
    exact integer products — ln((2b+1)(G+1) / ((2g+1)(B+1))) — so both
    engines feed ln the bit-identical double and round(6) closes the
    last-ulp gap (the money-fold discipline applied to odds ratios).

    Scale shape: label assignment is one key-partitioned left join
    against the distinct returned-order set (semi-join-sized build),
    binning is a map-side floor(log2), then one partial-agg'd groupBy to
    ~a dozen bin rows crossed with the 1-row class totals — the
    `orders_value_histogram` plan with a supervised label attached. At
    100 TB everything SF-proportional flows through exactly one
    hash-partitioned join + one agg; the WOE math happens on bin-count
    rows."""
    t = load_tables(spark, sf_dir)
    ret = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
        .withColumn("is_ret", F.lit(1))
    )
    lab = (
        t["orders"]
        .filter(F.col("o_totalprice") > 0)
        .join(ret, "o_orderkey", "left")
        .select(
            F.floor(F.log2("o_totalprice")).cast("bigint").alias("bin"),
            F.coalesce(F.col("is_ret"), F.lit(0)).alias("bad"),
        )
    )
    tot = lab.agg(
        F.sum("bad").cast("bigint").alias("bad_tot"),
        (F.count(F.lit(1)) - F.sum("bad")).cast("bigint").alias("good_tot"),
    )
    b = lab.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("bad").cast("bigint").alias("n_bad"),
    )
    n_good = F.col("n_orders") - F.col("n_bad")
    odds_num = ((2 * F.col("n_bad") + 1) * (F.col("good_tot") + 1)).cast("double")
    odds_den = ((2 * n_good + 1) * (F.col("bad_tot") + 1)).cast("double")
    ln_odds = F.log(odds_num / odds_den)
    bad_frac = (2 * F.col("n_bad") + 1).cast("double") / (
        2 * F.col("bad_tot") + 2
    ).cast("double")
    good_frac = (2 * n_good + 1).cast("double") / (
        2 * F.col("good_tot") + 2
    ).cast("double")
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_orders",
            "n_bad",
            n_good.cast("bigint").alias("n_good"),
            F.round(ln_odds, 6).alias("woe"),
            F.round((bad_frac - good_frac) * ln_odds, 6).alias("iv_contrib"),
        )
        .orderBy("bin")
    )


# --------------- difference-in-differences promo-lift estimate

_DID_SEGMENT = "BUILDING"
_DID_PRE_Y, _DID_POST_Y = 1996, 1997

_DID_ORACLE = f"""
WITH base AS (
  SELECT (c.c_mktsegment = '{_DID_SEGMENT}') AS treated,
         CAST(strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y') AS INTEGER)
           = {_DID_POST_Y} AS post,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE CAST(strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y') AS INTEGER)
        IN ({_DID_PRE_Y}, {_DID_POST_Y})
),
cells AS (
  SELECT
    CAST(sum(CASE WHEN treated AND NOT post THEN cents END) AS BIGINT) AS s_tp,
    CAST(count(CASE WHEN treated AND NOT post THEN 1 END) AS BIGINT)   AS n_tp,
    CAST(sum(CASE WHEN treated AND post THEN cents END) AS BIGINT)     AS s_tq,
    CAST(count(CASE WHEN treated AND post THEN 1 END) AS BIGINT)       AS n_tq,
    CAST(sum(CASE WHEN NOT treated AND NOT post THEN cents END) AS BIGINT) AS s_cp,
    CAST(count(CASE WHEN NOT treated AND NOT post THEN 1 END) AS BIGINT)   AS n_cp,
    CAST(sum(CASE WHEN NOT treated AND post THEN cents END) AS BIGINT) AS s_cq,
    CAST(count(CASE WHEN NOT treated AND post THEN 1 END) AS BIGINT)   AS n_cq
  FROM base
),
avgs AS (
  SELECT n_tp, n_tq, n_cp, n_cq,
         CAST(s_tp AS DOUBLE) / nullif(n_tp, 0) AS a_t_pre,
         CAST(s_tq AS DOUBLE) / nullif(n_tq, 0) AS a_t_post,
         CAST(s_cp AS DOUBLE) / nullif(n_cp, 0) AS a_c_pre,
         CAST(s_cq AS DOUBLE) / nullif(n_cq, 0) AS a_c_post
  FROM cells
)
SELECT n_tp AS n_treated_pre, n_tq AS n_treated_post,
       n_cp AS n_control_pre, n_cq AS n_control_post,
       round(a_t_pre / 100, 4)  AS avg_treated_pre_usd,
       round(a_t_post / 100, 4) AS avg_treated_post_usd,
       round(a_c_pre / 100, 4)  AS avg_control_pre_usd,
       round(a_c_post / 100, 4) AS avg_control_post_usd,
       round((a_t_post - a_t_pre) / 100, 4) AS treated_lift_usd,
       round((a_c_post - a_c_pre) / 100, 4) AS control_lift_usd,
       round(((a_t_post - a_t_pre) - (a_c_post - a_c_pre)) / 100, 4)
         AS did_usd
FROM avgs
"""


@register(
    "orders_promo_lift_did",
    oracle=_DID_ORACLE,
    tags=("stats", "abtest", "agg"),
)
def orders_promo_lift_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences lift estimate (Card & Krueger's
    workhorse; the quasi-experimental member of the A/B suite): average
    order value for the treated segment vs everyone else, before vs
    after a campaign year boundary — DiD = (treated post − treated pre)
    − (control post − control pre), the parallel-trends-adjusted effect
    a naive pre/post comparison overstates.

    Scale shape: ONE pass — the orders→customer equi-join (customer is
    the broadcast-sized dim) feeds a single grand aggregate with eight
    conditional sums/counts (the 2x2 cell matrix lands in one row, no
    groupBy key exchange at all). Float determinism: cents fold to
    BIGINT before summing; each cell average is one bigint/bigint →
    double division over engine-identical operands, so every derived
    difference is bit-identical before the output rounding."""
    t = load_tables(spark, sf_dir)
    base = (
        t["orders"]
        .join(
            F.broadcast(t["customer"]),
            t["orders"]["o_custkey"] == t["customer"]["c_custkey"],
        )
        .filter(F.year(F.col("o_orderdate")).isin(_DID_PRE_Y, _DID_POST_Y))
        .select(
            (F.col("c_mktsegment") == _DID_SEGMENT).alias("treated"),
            (F.year("o_orderdate") == _DID_POST_Y).alias("post"),
            _cents("o_totalprice").alias("cents"),
        )
    )
    cells = base.agg(
        *[
            f
            for tr, po, tag in (
                (True, False, "tp"),
                (True, True, "tq"),
                (False, False, "cp"),
                (False, True, "cq"),
            )
            for f in (
                F.sum(
                    F.when(
                        (F.col("treated") == tr) & (F.col("post") == po),
                        F.col("cents"),
                    )
                )
                .cast("long")
                .alias(f"s_{tag}"),
                F.count(
                    F.when(
                        (F.col("treated") == tr) & (F.col("post") == po), 1
                    )
                )
                .cast("long")
                .alias(f"n_{tag}"),
            )
        ]
    )

    def avg(s, n):
        return F.col(s).cast("double") / F.nullif(F.col(n), F.lit(0))

    a_tp, a_tq = avg("s_tp", "n_tp"), avg("s_tq", "n_tq")
    a_cp, a_cq = avg("s_cp", "n_cp"), avg("s_cq", "n_cq")
    return cells.select(
        F.col("n_tp").alias("n_treated_pre"),
        F.col("n_tq").alias("n_treated_post"),
        F.col("n_cp").alias("n_control_pre"),
        F.col("n_cq").alias("n_control_post"),
        F.round(a_tp / 100, 4).alias("avg_treated_pre_usd"),
        F.round(a_tq / 100, 4).alias("avg_treated_post_usd"),
        F.round(a_cp / 100, 4).alias("avg_control_pre_usd"),
        F.round(a_cq / 100, 4).alias("avg_control_post_usd"),
        F.round((a_tq - a_tp) / 100, 4).alias("treated_lift_usd"),
        F.round((a_cq - a_cp) / 100, 4).alias("control_lift_usd"),
        F.round(((a_tq - a_tp) - (a_cq - a_cp)) / 100, 4).alias("did_usd"),
    )
