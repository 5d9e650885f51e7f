"""Reference read paths over the reference-SHAPED data model — the §2.11
quirk queries running on rows shaped like the reference's actual MongoDB
collections (fixtures.py), not on TPC-H analogs.

The quirk semantics are exercised on rows shaped like the reference's,
not only on synthetic analog columns: each query below is one of the
reference's route read paths (index.js citation per query) over
users/tasks/submissions/payments/notifications/withdrawals rows that
carry the real quirks — dual key spellings, dual payment writer shapes,
misspelled status values, missing fields, orphan references, out-of-enum
roles. Oracles reproduce the SAME synthesized rows in DuckDB
(fixtures.duck_cte), so every query here is value-hash-gated like the
rest of the registry.

Plan shapes: users/tasks are broadcast-sized dims at any realistic scale
(they grow with tenancy, not traffic) — explicit F.broadcast; submissions/
payments/notifications/withdrawals are the fact sides and are never
shuffled for a join in these queries. The held copies these queries read
are one partition each (fixtures.reference_table), which satisfies every
required distribution, so a groupBy, a global aggregate, a sort or a
window over them plans no exchange: a query is one job plus its
broadcasts. Every LIMIT carries a unique-id tiebreak (registry
determinism rule 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import duck_cte, reference_table
from ..registry import register

_STRF = "%Y-%m-%d %H:%M:%S"


def _ts_text(col: str) -> "F.Column":
    """A synthesized timestamp as `yyyy-MM-dd HH:mm:ss` text: the fixtures
    hold whole-second TIMESTAMP_NTZ values, which a cast renders in that
    form under every session zone (`date_format` shifts the values that
    fall inside a DST gap)."""
    return F.col(col).cast("string")


def _cents(col) -> "F.Column":
    """Floor-cents rounding for per-row money doubles: floor(x*100+0.5)/100.

    `round(x, 2)` is the .xx5 tie class — Spark routes the double
    through BigDecimal HALF_UP while DuckDB multiplies-then-rounds, and
    the two can disagree on the SAME stored double near a .xx5
    boundary. floor(x*100 + 0.5)/100 is computed in IEEE
    double arithmetic identically on both engines over the bit-identical
    operand, so a regenerated fixture landing on a boundary cannot flake
    the driver row. The SQL oracles use the literal
    `floor(x * 100 + 0.5) / 100` spelling of the same fold.

    Accepts a column NAME or a Column expression, so a derived value
    such as `coins + added` goes through this one fold rather than an
    inline re-spelling of it.
    """
    from pyspark.sql import Column

    expr = col if isinstance(col, Column) else F.col(col)
    return F.floor(expr * 100 + F.lit(0.5)) / 100


# --------------------------------------------------- worker submission page

_WORKER_PAGE_ORACLE = f"""
WITH {duck_cte("ref_submissions", "ref_tasks")}
SELECT s.id,
       coalesce(t.task_title, 'Unknown Task') AS task_title,
       coalesce(s.payable_amount, 0) AS payable_amount,
       s.status,
       strftime(s.submitted_at, '{_STRF}') AS submitted_at
FROM ref_submissions s
LEFT JOIN ref_tasks t ON coalesce(s.task_id, s.taskId) = t.id
WHERE s.worker_email = 'user31@example.com'
ORDER BY s.submitted_at DESC, s.id
LIMIT 20
"""


@register("ref_worker_submission_page", oracle=_WORKER_PAGE_ORACLE, tags=("reference", "join"))
def ref_worker_submission_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The worker's paginated submission list (index.js:324-345), with all
    three quirks live on real reference-shaped rows: the task reference is
    `coalesce(task_id, taskId)` (both key spellings exist in the data,
    index.js:554 vs 205), orphan references fall back to 'Unknown Task' via
    the left-outer default (index.js:354-356), and NULL payable_amount
    coalesces to 0 (the `|| 0`, index.js:340). Broadcast the task dim;
    TakeOrderedAndProject handles the page."""
    subs = reference_table(spark, "ref_submissions")
    tasks = reference_table(spark, "ref_tasks").select("id", "task_title")
    return (
        subs.filter(F.col("worker_email") == "user31@example.com")
        .join(
            F.broadcast(tasks),
            F.coalesce(subs["task_id"], subs["taskId"]) == tasks["id"],
            "left",
        )
        .select(
            subs["id"],
            F.coalesce("task_title", F.lit("Unknown Task")).alias("task_title"),
            F.coalesce("payable_amount", F.lit(0.0)).alias("payable_amount"),
            "status",
            _ts_text("submitted_at").alias("submitted_at"),
        )
        .orderBy(F.col("submitted_at").desc(), "id")
        .limit(20)
    )


# ------------------------------------------------------ buyer payment history

_PAYMENT_HISTORY_ORACLE = f"""
WITH {duck_cte("ref_payments")}
SELECT email,
       count(*) AS n_payments,
       CAST(round(sum(coins), 2) AS DOUBLE) AS total_coins,
       CAST(round(sum(amount_usd), 2) AS DOUBLE) AS total_usd
FROM ref_payments
WHERE email IS NOT NULL
GROUP BY email
ORDER BY total_usd DESC, email
LIMIT 10
"""


@register("ref_buyer_payment_history", oracle=_PAYMENT_HISTORY_ORACLE, tags=("reference", "agg"))
def ref_buyer_payment_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment history read path (index.js:434, 563): the reference filters
    on `email`, which only the shape-B writer populates — shape-A rows
    (buyer_email/status, index.js:301-308) are INVISIBLE to this reader.
    That asymmetry is reference semantics, reproduced here on rows that
    actually carry both shapes: the filter keeps shape-B only, the
    aggregation never sees ~40% of the table."""
    pays = reference_table(spark, "ref_payments")
    return (
        pays.filter(F.col("email").isNotNull())
        .groupBy("email")
        .agg(
            F.count(F.lit(1)).alias("n_payments"),
            F.round(F.sum("coins"), 2).alias("total_coins"),
            F.round(F.sum("amount_usd"), 2).alias("total_usd"),
        )
        .orderBy(F.col("total_usd").desc(), "email")
        .limit(10)
    )


# ------------------------------------------------------ admin platform stats

_ADMIN_STATS_ORACLE = f"""
WITH {duck_cte("ref_users", "ref_payments", "ref_withdrawals")}
SELECT
  (SELECT count(*) FROM ref_users WHERE role = 'worker') AS total_workers,
  (SELECT count(*) FROM ref_users WHERE role = 'buyer') AS total_buyers,
  (SELECT CAST(round(sum(coins), 2) AS DOUBLE) FROM ref_users
    WHERE role IN ('admin', 'buyer', 'worker')) AS total_coins,
  (SELECT CAST(round(sum(amount_usd), 2) AS DOUBLE) FROM ref_payments) AS total_payments_usd,
  (SELECT count(*) FROM ref_withdrawals WHERE status = 'pending') AS pending_withdrawals
"""


@register("ref_admin_platform_stats", oracle=_ADMIN_STATS_ORACLE, tags=("reference", "agg"))
def ref_admin_platform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admin dashboard composite (index.js:1139-1157): four collection
    scans folded into ONE Spark DAG (the reference issues sequential Mongo
    round-trips). Role counting uses the valid-enum isin filter
    (index.js:78) — the data contains an out-of-enum 'ghost' row that the
    coins total must exclude. Payments sum over BOTH writer shapes (no
    email filter on this path). Scalar aggregates cross-join as 1-row
    broadcasts."""
    users = reference_table(spark, "ref_users")
    pays = reference_table(spark, "ref_payments")
    wds = reference_table(spark, "ref_withdrawals")
    role_counts = users.agg(
        F.count(F.when(F.col("role") == "worker", 1)).alias("total_workers"),
        F.count(F.when(F.col("role") == "buyer", 1)).alias("total_buyers"),
        F.round(
            F.sum(
                F.when(
                    F.col("role").isin("admin", "buyer", "worker"), F.col("coins")
                )
            ),
            2,
        ).alias("total_coins"),
    )
    pay_total = pays.agg(
        F.round(F.sum("amount_usd"), 2).alias("total_payments_usd")
    )
    wd_pending = wds.filter(F.col("status") == "pending").agg(
        F.count(F.lit(1)).alias("pending_withdrawals")
    )
    return role_counts.crossJoin(F.broadcast(pay_total)).crossJoin(
        F.broadcast(wd_pending)
    )


# ---------------------------------------------------- buyer pending review

_PENDING_REVIEW_ORACLE = f"""
WITH {duck_cte("ref_submissions")}
SELECT buyer_email,
       count(CASE WHEN status = 'pending' THEN 1 END) AS n_pending,
       count(CASE WHEN status IN ('approved', 'approve') THEN 1 END) AS n_approved,
       round(sum(CASE WHEN status = 'pending'
                      THEN coalesce(payable_amount, 0) END), 2) AS pending_amount
FROM ref_submissions
WHERE buyer_email IS NOT NULL
GROUP BY buyer_email
ORDER BY n_pending DESC, buyer_email
LIMIT 15
"""


@register("ref_buyer_pending_review", oracle=_PENDING_REVIEW_ORACLE, tags=("reference", "agg"))
def ref_buyer_pending_review(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buyer review queue rollup (index.js:613-621): approved counting must
    accept BOTH status spellings ('approved' and the misspelled 'approve',
    index.js:614) — ~2% of rows carry the misspelling, so an exact-match
    implementation hash-mismatches. Pending amounts coalesce NULL
    payable_amount to 0 (index.js:617)."""
    subs = reference_table(spark, "ref_submissions")
    return (
        subs.filter(F.col("buyer_email").isNotNull())
        .groupBy("buyer_email")
        .agg(
            F.count(F.when(F.col("status") == "pending", 1)).alias("n_pending"),
            F.count(
                F.when(F.col("status").isin("approved", "approve"), 1)
            ).alias("n_approved"),
            F.round(
                F.sum(
                    F.when(
                        F.col("status") == "pending",
                        F.coalesce("payable_amount", F.lit(0.0)),
                    )
                ),
                2,
            ).alias("pending_amount"),
        )
        .orderBy(F.col("n_pending").desc(), "buyer_email")
        .limit(15)
    )


# ------------------------------------------------------- notifications feed

_NOTIFICATIONS_ORACLE = f"""
WITH {duck_cte("ref_notifications")}
SELECT id, message, actionRoute, strftime(time, '{_STRF}') AS time
FROM ref_notifications
WHERE toEmail = 'user42@example.com'
ORDER BY time DESC, id
LIMIT 10
"""


@register("ref_notifications_feed", oracle=_NOTIFICATIONS_ORACLE, tags=("reference", "topk"))
def ref_notifications_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The notification bell (index.js:226-238): consumer-filtered,
    time-desc, first page. The synthesized timestamps tie on purpose
    (FIXTURES §C.6) — the unique-id tiebreak is what keeps the page
    deterministic, exactly the discipline Mongo's unstable sort hides.
    TakeOrderedAndProject; no shuffle beyond the top-k merge."""
    notifs = reference_table(spark, "ref_notifications")
    return (
        notifs.filter(F.col("toEmail") == "user42@example.com")
        .select(
            "id",
            "message",
            "actionRoute",
            _ts_text("time").alias("time"),
        )
        .orderBy(F.col("time").desc(), "id")
        .limit(10)
    )


# -------------------------------------------------------- withdrawal queue

_WITHDRAWAL_QUEUE_ORACLE = f"""
WITH {duck_cte("ref_withdrawals", "ref_users")}
SELECT w.id,
       w.worker_email,
       floor(w.withdrawal_coin * 100 + 0.5) / 100 AS withdrawal_coin,
       floor(w.withdrawal_amount * 100 + 0.5) / 100 AS withdrawal_amount,
       w.payment_system,
       floor(u.coins * 100 + 0.5) / 100 AS worker_coins,
       strftime(w.withdraw_date, '{_STRF}') AS withdraw_date
FROM ref_withdrawals w
JOIN ref_users u ON w.worker_email = u.email
WHERE w.status = 'pending'
ORDER BY w.withdraw_date, w.id
LIMIT 25
"""


@register("ref_withdrawal_queue", oracle=_WITHDRAWAL_QUEUE_ORACLE, tags=("reference", "join"))
def ref_withdrawal_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admin withdrawal queue (GET /admin/withdrawals,
    index.js:1099-1109) enriched with the worker's current coin balance
    (broadcast users dim). The reference's READ route has NO
    minimum-coin filter — the 200-coin minimum (index.js:1062) applies
    at request CREATION only — so the sub-200 rows the fixture plants
    (representing direct inserts that bypassed the API) appear in the
    queue exactly as the reference would return them, and the queue
    agrees with `ref_approve_withdrawal_batch`, which processes every
    pending row."""
    wds = reference_table(spark, "ref_withdrawals")
    users = reference_table(spark, "ref_users").select(
        F.col("email").alias("u_email"), "coins"
    )
    return (
        wds.filter(F.col("status") == "pending")
        .join(F.broadcast(users), wds["worker_email"] == F.col("u_email"))
        .select(
            "id",
            "worker_email",
            _cents("withdrawal_coin").alias("withdrawal_coin"),
            _cents("withdrawal_amount").alias("withdrawal_amount"),
            "payment_system",
            _cents("coins").alias("worker_coins"),
            _ts_text("withdraw_date").alias("withdraw_date"),
        )
        .orderBy("withdraw_date", "id")
        .limit(25)
    )


# ------------------------------------------------------- open task listing

_OPEN_TASKS_ORACLE = f"""
WITH {duck_cte("ref_tasks")}
SELECT id, task_title, required_workers,
       floor(payable_amount * 100 + 0.5) / 100 AS payable_amount,
       strftime(createdAt, '{_STRF}') AS createdAt
FROM ref_tasks
WHERE status IS DISTINCT FROM 'deleted' AND required_workers > 0
ORDER BY createdAt DESC, id
LIMIT 20
"""


@register("ref_open_tasks_listing", oracle=_OPEN_TASKS_ORACLE, tags=("reference", "filter"))
def ref_open_tasks_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The public task board (index.js:692-704) with the soft-delete filter
    (index.js:601): Mongo's `$ne: 'deleted'` MATCHES missing/null status,
    so the Spark predicate must be null-safe (`IS DISTINCT FROM`) — a plain
    `!=` silently drops the NULL-status rows the fixture plants
    (FIXTURES §C.2) and hash-mismatches."""
    tasks = reference_table(spark, "ref_tasks")
    return (
        tasks.filter(~F.col("status").eqNullSafe("deleted"))
        .filter(F.col("required_workers") > 0)
        .select(
            "id",
            "task_title",
            "required_workers",
            _cents("payable_amount").alias("payable_amount"),
            _ts_text("createdAt").alias("createdAt"),
        )
        .orderBy(F.col("createdAt").desc(), "id")
        .limit(20)
    )


# ------------------------------------------------------------- top workers

_TOP_WORKERS_ORACLE = f"""
WITH {duck_cte("ref_users")}
SELECT name, photo, floor(coins * 100 + 0.5) / 100 AS coins
FROM ref_users
WHERE role = 'worker'
ORDER BY coins DESC, email
LIMIT 6
"""


@register("ref_top_workers", oracle=_TOP_WORKERS_ORACLE, tags=("reference", "topk"))
def ref_top_workers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.3 lifecycle (GET /top-workers, index.js:1237-1257) on the
    reference-shaped users collection: role filter → coins-desc top-6 →
    name/photo/coins projection. The fully pushed-down pipeline shape:
    filter and projection reach the scan, the limit compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort), with the
    unique email as tiebreak (Mongo's unstable sort hid ties)."""
    users = reference_table(spark, "ref_users")
    return (
        users.filter(F.col("role") == "worker")
        .select("name", "photo", _cents("coins").alias("coins"), "email")
        .orderBy(F.col("coins").desc(), "email")
        .limit(6)
        .select("name", "photo", "coins")
    )


# --------------------------------------------------- over-subscribed tasks

_OVERSUB_ORACLE = f"""
WITH {duck_cte("ref_tasks", "ref_submissions")},
approved AS (
  SELECT coalesce(task_id, taskId) AS tid, count(*) AS n_approved
  FROM ref_submissions
  WHERE status IN ('approved', 'approve')
  GROUP BY 1
)
SELECT t.id, t.task_title, t.required_workers, a.n_approved,
       a.n_approved - t.required_workers AS excess
FROM ref_tasks t JOIN approved a ON t.id = a.tid
WHERE a.n_approved > t.required_workers
ORDER BY excess DESC, t.id
LIMIT 15
"""


@register("ref_oversubscribed_tasks", oracle=_OVERSUB_ORACLE, tags=("reference", "join", "agg"))
def ref_oversubscribed_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The over-subscription audit behind the approval guard
    (index.js:821): tasks whose approved-submission count (both status
    spellings, via the coalesced dual-spelling task reference) exceeds
    required_workers — FIXTURES §C.4 guarantees such rows exist. Aggregate
    the fact side FIRST (partial-agg'd groupBy on the coalesced key), then
    broadcast-join the task dim onto the small aggregate."""
    tasks = reference_table(spark, "ref_tasks").select(
        "id", "task_title", "required_workers"
    )
    subs = reference_table(spark, "ref_submissions")
    approved = (
        subs.filter(F.col("status").isin("approved", "approve"))
        .groupBy(F.coalesce("task_id", "taskId").alias("tid"))
        .agg(F.count(F.lit(1)).alias("n_approved"))
    )
    return (
        approved.join(F.broadcast(tasks), F.col("tid") == tasks["id"])
        .filter(F.col("n_approved") > F.col("required_workers"))
        .select(
            "id",
            "task_title",
            "required_workers",
            "n_approved",
            (F.col("n_approved") - F.col("required_workers")).alias("excess"),
        )
        .orderBy(F.col("excess").desc(), "id")
        .limit(15)
    )


# --------------------------------------------- approve-submission batch (write path)

_APPROVE_BATCH_ORACLE = f"""
WITH {duck_cte("ref_submissions", "ref_tasks", "ref_users")},
cap AS (
  SELECT task_id AS tid, count(*) AS n_approved
  FROM ref_submissions
  WHERE status = 'approved' AND task_id IS NOT NULL
  GROUP BY 1
),
cand AS (
  SELECT s.id, s.task_id, s.worker_email,
         coalesce(s.payable_amount, CAST(0 AS DOUBLE)) AS pay,
         row_number() OVER (PARTITION BY s.task_id
                            ORDER BY s.submitted_at, s.id) AS rk,
         t.required_workers - coalesce(c.n_approved, 0) AS capacity
  FROM ref_submissions s
  JOIN ref_tasks t ON t.id = s.task_id
  LEFT JOIN cap c ON c.tid = s.task_id
  WHERE s.status <> 'approved' AND s.task_id IS NOT NULL
),
per_worker AS (
  SELECT worker_email, count(*) AS n_approved, sum(pay) AS added
  FROM cand WHERE rk <= capacity
  GROUP BY worker_email
)
SELECT u.email AS worker_email,
       p.n_approved,
       floor(u.coins * 100 + 0.5) / 100 AS coins_before,
       floor(p.added * 100 + 0.5) / 100 AS coins_added,
       floor((u.coins + p.added) * 100 + 0.5) / 100 AS coins_after
FROM per_worker p JOIN ref_users u ON u.email = p.worker_email
ORDER BY coins_added DESC, worker_email
LIMIT 20
"""


@register(
    "ref_approve_submission_batch",
    oracle=_APPROVE_BATCH_ORACLE,
    tags=("reference", "mutation", "join", "agg"),
)
def ref_approve_submission_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approve-submission WRITE lifecycle (index.js:799-849:
    S2 find → J4 ownership lookup → A2 approved-count → F7 capacity guard →
    S5 $set status → S6 $inc coins) on the reference-shaped collections,
    batch-formulated: every approvable submission is processed FIFO
    (submitted_at, id) per task, and the output is the resulting per-worker
    coin ledger (the S6 post-image), top-20 by coins added.

    Faithful quirk semantics on real reference-shaped rows:
    * The endpoint dereferences `submission.task_id` directly
      (index.js:806,814) — submissions stored under the `taskId` spelling
      throw at `new ObjectId(undefined)` and can never be approved, so the
      batch keys everything off the task_id column alone, NOT the
      coalesced reference the read paths use.
    * The already-approved guard (index.js:810) and the capacity count
      (index.js:813-817) both match the CORRECT spelling 'approved' only —
      a row carrying the misspelled 'approve' status is re-approvable AND
      occupies no capacity slot, so tasks with 'approve' rows admit more
      approvals than their ledger suggests (the §2.11 spelling quirk,
      index.js:614, exercised in a write gate).
    * Ownership (index.js:806) = the task must exist; orphan task
      references (FIXTURES §C) fail the lookup and drop out via the inner
      join.
    * Sequential capacity consumption is modeled exactly by
      rank ≤ (required_workers − approved_count): each successful approval
      consumes one slot, and over-subscribed tasks (negative capacity,
      FIXTURES §C.4) admit none.
    * The coin credit joins users by worker_email (index.js:829-832);
      the reference's non-transactional miss path (submission flipped but
      no user matched → coins lost) drops out via the inner user join.

    Plan: submissions is the fact side — one partial-agg'd count for
    capacity, one window rank per task partition, one per-worker groupBy;
    tasks/users are tenancy-sized dims (AQE broadcasts at fixture scale).
    The top-20 page is TakeOrderedAndProject with the unique worker_email
    as tiebreak."""
    from pyspark.sql import Window

    subs = reference_table(spark, "ref_submissions")
    tasks = reference_table(spark, "ref_tasks").select(
        F.col("id").alias("t_id"), "required_workers"
    )
    users = reference_table(spark, "ref_users").select("email", "coins")

    cap = (
        subs.filter((F.col("status") == "approved") & F.col("task_id").isNotNull())
        .groupBy(F.col("task_id").alias("tid"))
        .agg(F.count(F.lit(1)).alias("n_approved_already"))
    )
    cand = (
        subs.filter((F.col("status") != "approved") & F.col("task_id").isNotNull())
        .join(F.broadcast(tasks), F.col("task_id") == F.col("t_id"))
        .join(F.broadcast(cap), F.col("task_id") == F.col("tid"), "left")
        .select(
            "id",
            "task_id",
            "worker_email",
            F.coalesce("payable_amount", F.lit(0.0)).alias("pay"),
            "submitted_at",
            (
                F.col("required_workers")
                - F.coalesce("n_approved_already", F.lit(0))
            ).alias("capacity"),
        )
    )
    w = Window.partitionBy("task_id").orderBy("submitted_at", "id")
    per_worker = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("capacity"))
        .groupBy("worker_email")
        .agg(F.count(F.lit(1)).alias("n_approved"), F.sum("pay").alias("added"))
    )
    return (
        per_worker.join(F.broadcast(users), per_worker["worker_email"] == users["email"])
        .select(
            F.col("email").alias("worker_email"),
            "n_approved",
            _cents("coins").alias("coins_before"),
            _cents("added").alias("coins_added"),
            _cents(F.col("coins") + F.col("added")).alias("coins_after"),
        )
        .orderBy(F.col("coins_added").desc(), "worker_email")
        .limit(20)
    )


# ----------------------------- sequential coin-ledger folds (write paths)

# Both remaining reference write lifecycles (task post, withdrawal
# approve) are sequential ledgers: each request re-reads the user's coin
# balance, so a rejected request consumes nothing and a later smaller one
# can still succeed. That greedy-skip fold has no window/cumsum closed
# form, so one SQL `aggregate` walks each key's requests in the JVM in
# (ord_ts NULLs last, ord_id) order — the oracles' order — from the first
# request's budget, keeping one counter struct per distinct grp: linear
# in the key's requests (SCALE.md "Python boundary policy"). Amounts are
# INTEGER CENTS, so acceptance can never flip on a float ulp (same trick
# as text_perplexity_buckets' micro-nats); the DuckDB oracles replay the
# identical fold as a recursive CTE.

_BUDGET_FOLD_SQL = """inline(aggregate(rq,
  named_struct('rem', rq[0].budget_c, 'g', transform(array_distinct(rq.grp),
    g -> named_struct('grp', g, 'n', 0L, 'n_acc', 0L, 'acc_c', 0L))),
  (a, r) -> named_struct('rem', IF(r.cost_c <= a.rem, a.rem - r.cost_c, a.rem),
    'g', transform(a.g, v -> IF(v.grp <=> r.grp, named_struct('grp', v.grp,
      'n', v.n + 1, 'n_acc', v.n_acc + IF(r.cost_c <= a.rem, 1, 0),
      'acc_c', v.acc_c + IF(r.cost_c <= a.rem, r.cost_c, 0)), v))),
  a -> a.g))"""


def _budget_fold(req: DataFrame) -> DataFrame:
    """Requests (key, grp, ord_ts, ord_id, cost_c, budget_c) → one row
    per (key, grp): the key's budget_c, the request count n, the accepted
    count n_acc and the accepted cost acc_c."""
    order = F.col("ord_ts").isNull().alias("ts_null"), "ord_ts", "ord_id"
    rq = F.array_sort(F.collect_list(F.struct(*order, "grp", "cost_c", "budget_c")))
    return req.groupBy("key").agg(rq.alias("rq")).select(
        "key", F.expr("rq[0].budget_c AS budget_c"), F.expr(_BUDGET_FOLD_SQL)
    )


_REC_FOLD_SQL = """
rec AS (
  SELECT key, grp, rk, cost_c, budget_c,
         cost_c <= budget_c AS accepted,
         CASE WHEN cost_c <= budget_c THEN budget_c - cost_c
              ELSE budget_c END AS remaining
  FROM req WHERE rk = 1
  UNION ALL
  SELECT q.key, q.grp, q.rk, q.cost_c, q.budget_c,
         q.cost_c <= r.remaining,
         CASE WHEN q.cost_c <= r.remaining THEN r.remaining - q.cost_c
              ELSE r.remaining END
  FROM req q JOIN rec r ON q.key = r.key AND q.rk = r.rk + 1
)
"""

# ------------------------------------------------ task-post batch (write path)

_POST_TASK_ORACLE = f"""
WITH RECURSIVE {duck_cte("ref_tasks", "ref_users")},
req AS (
  SELECT t.buyer_email AS key, t.buyer_email AS grp,
         CAST(round(t.required_workers * t.payable_amount * 100) AS BIGINT)
           AS cost_c,
         CAST(round(u.coins * 100) AS BIGINT) AS budget_c,
         row_number() OVER (PARTITION BY t.buyer_email
                            ORDER BY t.createdAt, t.id) AS rk
  FROM ref_tasks t JOIN ref_users u ON u.email = t.buyer_email
  WHERE u.role = 'buyer' AND t.required_workers > 0 AND t.payable_amount > 0
),
{_REC_FOLD_SQL}
SELECT key AS buyer_email,
       count(*) AS n_requested,
       count(*) FILTER (WHERE accepted) AS n_posted,
       count(*) FILTER (WHERE NOT accepted) AS n_rejected_budget,
       round(any_value(budget_c) / 100.0, 2) AS coins_before,
       round(sum(CASE WHEN accepted THEN cost_c ELSE 0 END) / 100.0, 2)
         AS coins_spent,
       round((any_value(budget_c)
              - sum(CASE WHEN accepted THEN cost_c ELSE 0 END)) / 100.0, 2)
         AS coins_after
FROM rec
GROUP BY key
ORDER BY coins_spent DESC, buyer_email
LIMIT 20
"""


@register(
    "ref_post_task_batch",
    oracle=_POST_TASK_ORACLE,
    tags=("reference", "mutation", "join", "agg"),
)
def ref_post_task_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The task-post WRITE lifecycle (index.js:443-514: field validation →
    S2 user lookup → F7 role + numeric guards → coin-budget guard →
    S6 $inc coins -= totalCost → S4 insert) replayed as a batch: every
    task row is a post request, processed per buyer in creation order
    (createdAt, id). Output is the resulting per-buyer coin ledger
    (top-20 by coins spent).

    Faithful semantics: totalCost = required_workers × payable_amount
    (index.js:483); the role guard admits only users whose role is
    exactly 'buyer' (index.js:478-480); the numeric guards reject
    non-positive workers/amounts (index.js:469-472); and because the
    endpoint re-reads coins per request, the budget check is the
    sequential greedy-skip fold — a rejected post consumes no coins and a
    later cheaper post can still succeed, which no prefix-cumsum
    reproduces. The fold runs in integer cents (exact in both engines).

    Plan: tasks join the tenancy-sized users dim (broadcast), one
    shuffle collects each buyer's requests for the JVM budget fold, whose
    one row per buyer feeds TakeOrderedAndProject with the unique email
    tiebreak — no Python worker."""
    tasks = reference_table(spark, "ref_tasks")
    users = reference_table(spark, "ref_users").select("email", "role", "coins")
    req = (
        tasks.join(F.broadcast(users), tasks["buyer_email"] == users["email"])
        .filter(
            (F.col("role") == "buyer")
            & (F.col("required_workers") > 0)
            & (F.col("payable_amount") > 0)
        )
        .select(
            F.col("buyer_email").alias("key"),
            F.col("buyer_email").alias("grp"),
            F.col("createdAt").alias("ord_ts"),
            F.col("id").alias("ord_id"),
            F.round(F.col("required_workers") * F.col("payable_amount") * 100)
            .cast("long")
            .alias("cost_c"),
            F.round(F.col("coins") * 100).cast("long").alias("budget_c"),
        )
    )
    # grp is the key: the fold emits one row per buyer
    return (
        _budget_fold(req)
        .select(
            F.col("key").alias("buyer_email"),
            F.col("n").alias("n_requested"),
            F.col("n_acc").alias("n_posted"),
            (F.col("n") - F.col("n_acc")).alias("n_rejected_budget"),
            F.round(F.col("budget_c") / 100.0, 2).alias("coins_before"),
            F.round(F.col("acc_c") / 100.0, 2).alias("coins_spent"),
            F.round((F.col("budget_c") - F.col("acc_c")) / 100.0, 2).alias(
                "coins_after"
            ),
        )
        .orderBy(F.col("coins_spent").desc(), "buyer_email")
        .limit(20)
    )


# ----------------------------------------- withdrawal-approve batch (write path)

_APPROVE_WITHDRAWAL_ORACLE = f"""
WITH RECURSIVE {duck_cte("ref_withdrawals", "ref_users", "ref_submissions")},
earned AS (
  SELECT worker_email,
         sum(CAST(round(coalesce(payable_amount, 0) * 100) AS BIGINT))
           AS earned_c
  FROM ref_submissions WHERE status = 'approved' GROUP BY worker_email
),
req AS (
  SELECT w.worker_email AS key, w.payment_system AS grp,
         CAST(round(w.withdrawal_coin * 100) AS BIGINT) AS cost_c,
         CAST(round(u.coins * 100) AS BIGINT) + coalesce(e.earned_c, 0)
           AS budget_c,
         row_number() OVER (PARTITION BY w.worker_email
                            ORDER BY w.withdraw_date, w.id) AS rk
  FROM ref_withdrawals w
  JOIN ref_users u ON u.email = w.worker_email
  LEFT JOIN earned e ON e.worker_email = w.worker_email
  WHERE w.status <> 'approved'
),
{_REC_FOLD_SQL}
SELECT grp AS payment_system,
       count(*) AS n_processed,
       count(*) FILTER (WHERE accepted) AS n_approved,
       count(*) FILTER (WHERE NOT accepted) AS n_rejected_insufficient,
       round(sum(CASE WHEN accepted THEN cost_c ELSE 0 END) / 100.0, 2)
         AS coins_paid
FROM rec
GROUP BY grp
ORDER BY payment_system
"""


@register(
    "ref_approve_withdrawal_batch",
    oracle=_APPROVE_WITHDRAWAL_ORACLE,
    tags=("reference", "mutation", "join", "agg"),
)
def ref_approve_withdrawal_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admin withdrawal-approve WRITE lifecycle (index.js:1336-1371:
    S2 withdrawal find → already-approved guard → S2 user lookup →
    coins-sufficiency guard → S6 $inc coins → S5 $set approved) replayed
    as a batch over all pending withdrawals, per worker in request order
    (withdraw_date, id). Output: per-payment-system approval census and
    coins paid.

    Composition with the earning flow: a worker's spendable balance is
    users.coins PLUS the earnings the approve-submission endpoint
    credited (index.js:829) — rows whose status is exactly 'approved';
    rows carrying the misspelled 'approve' were written by the
    unvalidated client insert (index.js:925-935), never passed through
    the crediting endpoint, and contribute nothing — the §2.11 spelling
    quirk surfacing in a second write gate. The endpoint re-reads coins
    per request (index.js:1347-1358), so sufficiency is the same
    greedy-skip integer-cents fold: a too-large withdrawal is rejected
    and consumes nothing, a later smaller one may still clear. The
    sub-200-coin rows (FIXTURES §C) flow through unguarded — the minimum
    applies at request creation (index.js:1062), not at approval.

    Plan: withdrawals join the users dim and the per-worker earnings
    aggregate (itself partial-agg'd from submissions); one shuffle
    collects each worker's pending requests for the JVM budget fold; its
    (worker, payment system) rows feed a 4-group aggregation."""
    wd = reference_table(spark, "ref_withdrawals")
    users = reference_table(spark, "ref_users").select("email", "coins")
    subs = reference_table(spark, "ref_submissions")
    earned = (
        subs.filter(F.col("status") == "approved")
        .groupBy("worker_email")
        .agg(
            F.sum(
                F.round(F.coalesce("payable_amount", F.lit(0.0)) * 100).cast("long")
            ).alias("earned_c")
        )
    )
    req = (
        wd.filter(F.col("status") != "approved")
        .join(F.broadcast(users), wd["worker_email"] == users["email"])
        .join(F.broadcast(earned), "worker_email", "left")
        .select(
            F.col("worker_email").alias("key"),
            F.col("payment_system").alias("grp"),
            F.col("withdraw_date").alias("ord_ts"),
            F.col("id").alias("ord_id"),
            F.round(F.col("withdrawal_coin") * 100).cast("long").alias("cost_c"),
            (
                F.round(F.col("coins") * 100).cast("long")
                + F.coalesce("earned_c", F.lit(0))
            ).alias("budget_c"),
        )
    )
    return (
        _budget_fold(req)
        .groupBy(F.col("grp").alias("payment_system"))
        .agg(
            F.sum("n").alias("n_processed"),
            F.sum("n_acc").alias("n_approved"),
            F.sum(F.col("n") - F.col("n_acc")).alias("n_rejected_insufficient"),
            F.round(F.sum("acc_c") / 100.0, 2).alias("coins_paid"),
        )
        .orderBy("payment_system")
    )


# ------------------------------------------------ entity resolution census

_ENTITY_RES_ORACLE = f"""
WITH {duck_cte("ref_users")}
, blocked AS (
  SELECT id, name, substr(name, 1, 6) AS blk FROM ref_users
),
pairs AS (
  SELECT a.blk,
         CASE WHEN levenshtein(a.name, b.name) <= 1 THEN 1 ELSE 0 END AS m
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.id < b.id
)
SELECT b.blk AS block,
       count(DISTINCT b.id) AS n_names,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs_checked,
       CAST(coalesce(p.n_matches, 0) AS BIGINT) AS n_matches
FROM blocked b
LEFT JOIN (
  SELECT blk, count(*) AS n_pairs, sum(m) AS n_matches FROM pairs GROUP BY blk
) p ON b.blk = p.blk
GROUP BY b.blk, p.n_pairs, p.n_matches
ORDER BY block
"""


@register(
    "ref_entity_resolution",
    oracle=_ENTITY_RES_ORACLE,
    tags=("reference", "dedup"),
)
def ref_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution over the users collection — the
    dedup-users maintenance job every account store runs (the reference
    checks exact-email uniqueness only, index.js:388-391; near-duplicate
    NAMES slip through): block on a cheap key (6-char name prefix), pair
    WITHIN blocks only, score with edit distance (levenshtein is a
    built-in JVM expression in Spark and a native function in DuckDB —
    byte-identical integers), and report the per-block census
    (names, candidate pairs, fuzzy matches at distance <= 1).

    Scale shape — the blocking argument: all-pairs matching is O(n²) in
    ACCOUNTS; blocking bounds the quadratic to the largest block
    (equi-join on the block key, AQE-planned). Real deployments block on
    phonetic keys / email domains / name n-grams; the census output is
    the tool for CHOOSING the key — oversized blocks and zero-match
    blocks both show up directly."""
    u = reference_table(spark, "ref_users").select(
        "id", "name", F.substring("name", 1, 6).alias("blk")
    )
    a = u.alias("a")
    b = u.alias("b")
    pairs = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.blk").alias("blk"),
        F.when(
            F.levenshtein(F.col("a.name"), F.col("b.name")) <= 1, 1
        )
        .otherwise(0)
        .alias("m"),
    )
    per_block_pairs = pairs.groupBy("blk").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("m").alias("n_matches")
    )
    names = u.groupBy("blk").agg(F.countDistinct("id").alias("n_names"))
    return (
        names.join(per_block_pairs, "blk", "left")
        .select(
            F.col("blk").alias("block"),
            "n_names",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs_checked"),
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        )
        .orderBy("block")
    )


# ----------------------------------------------------- admin users listing

_USERS_ADMIN_ORACLE = f"""
WITH {duck_cte("ref_users")}
SELECT name, email, photo, role,
       floor(coins * 100 + 0.5) / 100 AS coins
FROM ref_users
ORDER BY email
"""


@register(
    "ref_users_admin_list", oracle=_USERS_ADMIN_ORACLE, tags=("reference", "scan")
)
def ref_users_admin_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admin's all-users listing (GET /admin/users, index.js:1112):
    `find({}, {projection: {name, email, photo, role, coins}})` — a bare
    projection with NO role filter, so unlike the isin-filtered admin
    stats (`ref_admin_platform_stats`) the out-of-enum 'ghost' row IS
    visible here, exactly as Mongo would return it. ORDER BY email
    replaces Mongo's unstable natural order (the same determinism
    deviation `ref_top_workers` documents). Users grow with tenancy, not
    traffic — a bounded listing, collect-at-serving safe; the floor-cents
    fold (`_cents` / `floor(x*100+0.5)/100`) on both sides since the raw
    doubles are the per-row hash fold."""
    users = reference_table(spark, "ref_users")
    return users.select(
        "name",
        "email",
        "photo",
        "role",
        _cents("coins").alias("coins"),
    ).orderBy("email")


# ------------------------------------------------------------ user profile

_PROFILE_EMAIL = "user31@example.com"

_USER_PROFILE_ORACLE = f"""
WITH {duck_cte("ref_users")}
SELECT id, name, email, photo, role,
       floor(coins * 100 + 0.5) / 100 AS coins,
       strftime(createdAt, '{_STRF}') AS created_at
FROM ref_users
WHERE email = '{_PROFILE_EMAIL}'
"""


@register(
    "ref_user_profile", oracle=_USER_PROFILE_ORACLE, tags=("reference", "scan")
)
def ref_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profile fetch (GET /users/profile?email=…, index.js:413):
    `findOne({email})` returning the FULL user document. Email is unique
    by construction in the synthesized collection, so the equality
    predicate IS the total order (findOne == the one matching row; no
    LIMIT needed). Registered against the fixed fixture email the other
    reference queries use; the HTTP facade serves the same query and the
    route test drives it over TCP. Point-lookup scale shape: a
    pushed-down equality on a tenancy-sized dim."""
    users = reference_table(spark, "ref_users")
    return users.filter(F.col("email") == _PROFILE_EMAIL).select(
        "id",
        "name",
        "email",
        "photo",
        "role",
        _cents("coins").alias("coins"),
        _ts_text("createdAt").alias("created_at"),
    )


# ------------------------- tenant reads: buyer tasks, worker queue, task
# detail, admin stats, buyer submissions. With these and the two below,
# every reference READ route whose semantics are a query is served by
# the facade; the remainder of index.js is auth middleware, Stripe
# side-effects, and duplicate route registrations.

_BUYER_EMAIL = "user7@example.com"

_BUYER_TASKS_ORACLE = f"""
WITH {duck_cte("ref_tasks")}
SELECT id, task_title, required_workers,
       floor(payable_amount * 100 + 0.5) / 100 AS payable_amount,
       completion_date, status,
       strftime(createdAt, '{_STRF}') AS createdAt
FROM ref_tasks
WHERE buyer_email = '{_BUYER_EMAIL}'
ORDER BY createdAt DESC, id
"""


@register("ref_buyer_tasks", oracle=_BUYER_TASKS_ORACLE, tags=("reference", "filter"))
def ref_buyer_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The buyer's own task list (GET /buyer/tasks, index.js:517-530):
    `find({buyer_email}).sort({createdAt: -1})` — ALL statuses including
    'deleted' and the NULL-status rows (no soft-delete filter on this
    route, unlike the public board `ref_open_tasks_listing`), newest
    first. One buyer owns ~N_TASKS/300 tasks (tenancy-bounded), so the
    full unpaginated listing is serving-safe; id tiebreaks Mongo's
    unstable sort. Scale shape: a pushed-down single-tenant equality on
    the task dim."""
    tasks = reference_table(spark, "ref_tasks")
    return (
        tasks.filter(F.col("buyer_email") == _BUYER_EMAIL)
        .select(
            "id",
            "task_title",
            "required_workers",
            _cents("payable_amount").alias("payable_amount"),
            "completion_date",
            "status",
            _ts_text("createdAt").alias("createdAt"),
        )
        .orderBy(F.col("createdAt").desc(), "id")
    )


_WORKER_OPEN_TASKS_ORACLE = f"""
WITH {duck_cte("ref_tasks")}
SELECT id, task_title, required_workers,
       floor(payable_amount * 100 + 0.5) / 100 AS payable_amount,
       buyer_name,
       strftime(createdAt, '{_STRF}') AS createdAt
FROM ref_tasks
WHERE status = 'open'
ORDER BY createdAt DESC, id
LIMIT 25
"""


@register(
    "ref_worker_open_tasks",
    oracle=_WORKER_OPEN_TASKS_ORACLE,
    tags=("reference", "filter"),
)
def ref_worker_open_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The worker task feed (GET /worker/tasks, index.js:1034-1043):
    `find({status: 'open'}).sort({createdAt: -1})`. STRICT equality —
    NULL-status rows are excluded here, the mirror image of the public
    board's `$ne: 'deleted'` which KEEPS them (`ref_open_tasks_listing`);
    the fixture plants both so the two routes' row sets differ and either
    predicate spelled wrong hash-mismatches. LIMIT 25 + id tiebreak is
    the module's documented pagination deviation (the reference returns
    the full table; a feed endpoint serves a page). Plan: filter and
    projection pushed to the scan, TakeOrderedAndProject for the page."""
    tasks = reference_table(spark, "ref_tasks")
    return (
        tasks.filter(F.col("status") == "open")
        .select(
            "id",
            "task_title",
            "required_workers",
            _cents("payable_amount").alias("payable_amount"),
            "buyer_name",
            _ts_text("createdAt").alias("createdAt"),
        )
        .orderBy(F.col("createdAt").desc(), "id")
        .limit(25)
    )


# md5('t42')[:24] — the oid the fixture generator assigns task index 42
# (fixtures._tasks_sql's `{d.oid('t')}`); the facade's GET /tasks/<id>
# route serves this query for exactly this id and 404s any other.
_TASK_DETAIL_OID = "6f700379d78b358cd6a9ed3e"

_TASK_DETAIL_ORACLE = f"""
WITH {duck_cte("ref_tasks")}
SELECT id, task_title, task_detail, required_workers,
       floor(payable_amount * 100 + 0.5) / 100 AS payable_amount,
       completion_date, submission_info, task_image_url,
       buyer_email, buyer_name, status,
       strftime(createdAt, '{_STRF}') AS createdAt
FROM ref_tasks
WHERE id = '{_TASK_DETAIL_OID}'
"""


@register("ref_task_detail", oracle=_TASK_DETAIL_ORACLE, tags=("reference", "scan"))
def ref_task_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The task detail fetch (GET /tasks/:id, index.js:1017-1030):
    `findOne({_id: ObjectId(id)})` returning the full task document (404
    when absent — the facade's route handler maps an empty result to the
    reference's 404 body). The oid is unique by construction so the
    equality predicate IS the total order, same as `ref_user_profile`.
    Point-lookup scale shape: pushed-down equality on the task dim."""
    tasks = reference_table(spark, "ref_tasks")
    return tasks.filter(F.col("id") == _TASK_DETAIL_OID).select(
        "id",
        "task_title",
        "task_detail",
        "required_workers",
        _cents("payable_amount").alias("payable_amount"),
        "completion_date",
        "submission_info",
        "task_image_url",
        "buyer_email",
        "buyer_name",
        "status",
        _ts_text("createdAt").alias("createdAt"),
    )


_ADMIN_STATS_UNFILTERED_ORACLE = f"""
WITH {duck_cte("ref_users", "ref_payments")}
SELECT
  (SELECT count(*) FROM ref_users WHERE role = 'worker') AS total_workers,
  (SELECT count(*) FROM ref_users WHERE role = 'buyer') AS total_buyers,
  (SELECT CAST(round(sum(coins), 2) AS DOUBLE) FROM ref_users) AS total_coins,
  (SELECT CAST(round(sum(amount_usd), 2) AS DOUBLE) FROM ref_payments)
    AS total_payments_usd
"""


@register(
    "ref_admin_stats", oracle=_ADMIN_STATS_UNFILTERED_ORACLE, tags=("reference", "agg")
)
def ref_admin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER admin stats endpoint (GET /admin/stats, index.js:1375-1397)
    — the reference registers two: `/admin/home` (index.js:1200, served by
    `ref_admin_platform_stats`) filters the coins total to the valid role
    enum, while THIS one groups `$sum: '$coins'` over ALL users, so the
    out-of-enum 'ghost' row's balance IS counted here and the two
    endpoints disagree by exactly that row — reference behavior, preserved
    and pinned by both oracles. Payments sum has no shape filter either.
    Two grand aggregates folded into one DAG; the 1-row results cross-join
    as broadcasts."""
    users = reference_table(spark, "ref_users")
    pays = reference_table(spark, "ref_payments")
    u = users.agg(
        F.count(F.when(F.col("role") == "worker", 1)).alias("total_workers"),
        F.count(F.when(F.col("role") == "buyer", 1)).alias("total_buyers"),
        F.round(F.sum("coins"), 2).alias("total_coins"),
    )
    p = pays.agg(F.round(F.sum("amount_usd"), 2).alias("total_payments_usd"))
    return u.crossJoin(p)  # 1-row x 1-row scalar-aggregate join


_BUYER_SUBMISSIONS_ORACLE = f"""
WITH {duck_cte("ref_tasks", "ref_submissions")}
SELECT s.id, s.task_id, s.worker_email, s.worker_name,
       floor(s.payable_amount * 100 + 0.5) / 100 AS payable_amount,
       s.status,
       strftime(s.submitted_at, '{_STRF}') AS submitted_at
FROM ref_submissions s
WHERE s.task_id IN (
  SELECT id FROM ref_tasks WHERE buyer_email = '{_BUYER_EMAIL}'
)
ORDER BY submitted_at, s.id
LIMIT 25
"""


@register(
    "ref_buyer_submissions",
    oracle=_BUYER_SUBMISSIONS_ORACLE,
    tags=("reference", "join"),
)
def ref_buyer_submissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The buyer's incoming submissions (GET /buyer/submissions,
    index.js:778-795): two sequential Mongo queries — the buyer's task
    ids, then `find({task_id: {$in: taskIds}})` — folded into one
    broadcast semi-join. The route probes STRICTLY `task_id`: rows whose
    reference lives in the `taskId` spelling are INVISIBLE to this
    reader (the dual-spelling quirk, FIXTURES §C; contrast
    `ref_worker_submission_page`, whose reader coalesces both). The $in
    list also includes the buyer's deleted/NULL-status tasks — no status
    filter on either leg, reproduced as-is. LIMIT 25 + (submitted_at, id)
    order is the module's documented pagination deviation. Scale shape:
    fact-side submissions never shuffle; the single-tenant task-id list
    broadcasts."""
    tasks = reference_table(spark, "ref_tasks")
    subs = reference_table(spark, "ref_submissions")
    buyer_tasks = tasks.filter(F.col("buyer_email") == _BUYER_EMAIL).select("id")
    return (
        subs.join(
            F.broadcast(buyer_tasks),
            subs["task_id"] == buyer_tasks["id"],
            "left_semi",
        )
        .select(
            "id",
            "task_id",
            "worker_email",
            "worker_name",
            # raw document field — this route has no `|| 0` default, so a
            # NULL payable stays NULL (contrast ref_worker_submission_page)
            _cents("payable_amount").alias("payable_amount"),
            "status",
            _ts_text("submitted_at").alias("submitted_at"),
        )
        .orderBy("submitted_at", "id")
        .limit(25)
    )


# ------------------------- route-exact shapes: `/api/buyer/stats` and
# `/buyer-tasks`. Their semantics are shared with `ref_buyer_pending_review`
# (which pins the 'approve'/'approved' spelling) and `ref_buyer_tasks`
# (the sorted projection of the same tenant's tasks); these two return
# the routes' EXACT output shapes.

_BUYER_STATS_ORACLE = f"""
WITH {duck_cte("ref_tasks", "ref_submissions")}
SELECT
  (SELECT count(*) FROM ref_tasks
   WHERE buyer_email = '{_BUYER_EMAIL}'
     AND status IS DISTINCT FROM 'deleted') AS total_tasks,
  (SELECT CAST(coalesce(sum(coalesce(required_workers, 0)), 0) AS BIGINT)
   FROM ref_tasks
   WHERE buyer_email = '{_BUYER_EMAIL}'
     AND status IS DISTINCT FROM 'deleted') AS pending_workers,
  (SELECT CAST(coalesce(sum(CAST(floor(coalesce(payable_amount, 0) * 100 + 0.5)
                                 AS BIGINT)), 0) AS DOUBLE) / 100.0
   FROM ref_submissions
   WHERE buyer_email = '{_BUYER_EMAIL}'
     AND status IN ('approve', 'approved')) AS total_payments
"""


@register("ref_buyer_stats", oracle=_BUYER_STATS_ORACLE, tags=("reference", "agg"))
def ref_buyer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The buyer dashboard stat tiles (GET /api/buyer/stats,
    index.js:593-629): three scalars over two collections.

    * total_tasks / pending_workers — `{buyer_email, status: {$ne:
      "deleted"}}`: Mongo's `$ne` MATCHES missing/null fields, so the
      fixture's NULL-status rows (id%1000==7) are COUNTED — the F3
      null-safe-$ne quirk on reference-shaped rows; a plain `status !=
      'deleted'` filter hash-mismatches. pending_workers reduces
      `required_workers || 0` over the same row set (index.js:609).
    * total_payments — submissions with `status: {$in: ["approve",
      "approved"]}` (BOTH spellings, the index.js:614 misspelling quirk
      again) summing `payable_amount || 0`. Money folds to integer cents
      (floor(x*100+0.5)) BEFORE the sum so distributed re-association
      can't flake the hash, then divides back as double/100.0 — the
      identical IEEE op on both engines.

    Plan: two filtered 1-row aggregates crossed as broadcasts (the
    `ref_admin_stats` shape) — single-tenant predicates push to the
    scans; nothing SF-proportional crosses."""
    tasks = reference_table(spark, "ref_tasks")
    subs = reference_table(spark, "ref_submissions")
    t = tasks.filter(
        (F.col("buyer_email") == _BUYER_EMAIL)
        & ~F.col("status").eqNullSafe("deleted")  # the one null-safe $ne spelling (see ref_open_tasks_listing)
    ).agg(
        F.count(F.lit(1)).alias("total_tasks"),
        F.coalesce(F.sum(F.coalesce("required_workers", F.lit(0))), F.lit(0))
        .cast("bigint")
        .alias("pending_workers"),
    )
    s = subs.filter(
        (F.col("buyer_email") == _BUYER_EMAIL)
        & F.col("status").isin("approve", "approved")
    ).agg(
        (
            F.coalesce(
                F.sum(
                    F.floor(
                        F.coalesce("payable_amount", F.lit(0.0)) * 100 + F.lit(0.5)
                    ).cast("bigint")
                ),
                F.lit(0),
            ).cast("double")
            / 100.0
        ).alias("total_payments")
    )
    return t.crossJoin(s)  # 1-row x 1-row scalar-aggregate join


_BUYER_TASKS_ALL_ORACLE = f"""
WITH {duck_cte("ref_tasks")}
SELECT id, task_title, task_detail, required_workers,
       floor(payable_amount * 100 + 0.5) / 100 AS payable_amount,
       completion_date, submission_info, task_image_url,
       buyer_email, buyer_name,
       strftime(createdAt, '{_STRF}') AS createdAt,
       strftime(updatedAt, '{_STRF}') AS updatedAt,
       status
FROM ref_tasks
WHERE buyer_email = '{_BUYER_EMAIL}'
"""


@register(
    "ref_buyer_tasks_all", oracle=_BUYER_TASKS_ALL_ORACLE, tags=("reference", "filter")
)
def ref_buyer_tasks_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The legacy buyer task listing (GET /buyer-tasks, index.js:632-648):
    a bare `find({buyer_email: email})` — FULL documents (including the
    nullable `updatedAt` and the NULL-status rows), no soft-delete
    filter, no sort, no pagination; the route's email-vs-token equality
    check is auth plumbing, not query semantics. Differs from
    `ref_buyer_tasks` (GET /buyer/tasks, index.js:517), which projects a
    subset and sorts newest-first — the reference registers BOTH and the
    two return different shapes over the same tenant. Unordered output is
    hash-safe (the driver's compare is order-insensitive; registry
    determinism rule 3 only binds LIMIT queries). Scale shape: one
    pushed-down single-tenant equality on the broadcast-sized task dim."""
    tasks = reference_table(spark, "ref_tasks")
    return tasks.filter(F.col("buyer_email") == _BUYER_EMAIL).select(
        "id",
        "task_title",
        "task_detail",
        "required_workers",
        _cents("payable_amount").alias("payable_amount"),
        "completion_date",
        "submission_info",
        "task_image_url",
        "buyer_email",
        "buyer_name",
        _ts_text("createdAt").alias("createdAt"),
        _ts_text("updatedAt").alias("updatedAt"),
        "status",
    )
