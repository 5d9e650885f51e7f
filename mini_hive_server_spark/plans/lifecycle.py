"""Composite lifecycle queries — SURVEY.md §3's top entry points as single
DAGs.

Each reference endpoint issued 2-4 sequential MongoDB round-trips plus JS
post-processing; here every step collapses into one Catalyst plan: the scans
share the job, the aggregates are partial-pushed, and the final assembly is
a projection. This is the architectural point of the Spark build — the
reference's §3.1 dashboard is 4 network round-trips, ours is one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import register

# Money discipline (the same .xx5 tie class reference_model._cents
# guards against): `round(sum(<double product>), 2)` lets the two
# engines' different
# summation orders land on opposite sides of a half-cent boundary. Both
# sides now fold each term to EXACT integer units first (o_totalprice is
# 2-decimal → cents; the price*(1-disc) product is 4-decimal → ten-
# thousandths), sum the integers exactly, and only then produce the
# 2-decimal value with one identical IEEE op sequence. Exact while the
# integer sum stays under 2^53 (≈ $9e11 per tenant — far above any
# per-tenant balance).


def tenk(x: F.Column) -> F.Column:
    """`x` folded to exact integer ten-thousandths, the unit of a
    4-decimal money product; `tenk_sql` is the oracle twin."""
    return F.floor(x * 10000 + F.lit(0.5)).cast("bigint")


def tenk_sum(units: F.Column) -> F.Column:
    """The exact sum of ten-thousandths `units` shown as 2-decimal money
    (half-up to cents, then one IEEE division); `tenk_sum_sql` is the
    oracle twin."""
    return F.floor((F.sum(units) + F.lit(50)) / F.lit(100.0)) / F.lit(100.0)


def tenk_sql(x: str) -> str:
    """The SQL expression `x` folded to exact integer ten-thousandths
    (the oracles' twin of `tenk`)."""
    return f"CAST(floor({x} * 10000 + 0.5) AS BIGINT)"


def tenk_sum_sql(units: str) -> str:
    """The exact sum of ten-thousandths `units` shown as 2-decimal money
    (the oracles' twin of `tenk_sum`)."""
    return f"floor((sum({units}) + 50) / 100.0) / 100.0"


# an approved submission's value in ten-thousandths, 0 for the others
_APPROVED_TENK = f"""CASE WHEN l_linestatus = 'F'
                          THEN {tenk_sql("l_extendedprice * (1 - l_discount)")}
                          ELSE 0 END"""


def _approved_tenk() -> F.Column:
    """The Column twin of `_APPROVED_TENK`."""
    return F.when(
        F.col("l_linestatus") == "F",
        tenk(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
    ).otherwise(F.lit(0))


_BUYER_HOME_ORACLE = f"""
SELECT * FROM
  (SELECT c_name AS name, c_acctbal AS coins
   FROM customer WHERE c_custkey = 42)
CROSS JOIN
  (SELECT count(*)                              AS n_tasks,
          count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open_tasks,
          sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                                                AS total_paid
   FROM orders WHERE o_custkey = 42)
CROSS JOIN
  (SELECT count(*)                                AS n_submissions,
          count(*) FILTER (WHERE l_linestatus = 'O')    AS n_pending,
          count(*) FILTER (WHERE l_linestatus = 'F')    AS n_approved,
          {tenk_sum_sql(_APPROVED_TENK)} AS approved_value
   FROM lineitem
   WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey = 42))
"""


@register("buyer_home_dashboard", oracle=_BUYER_HOME_ORACLE, tags=("composite", "headline"))
def buyer_home_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 `GET /buyer/home` (index.js:542-589): profile lookup + task scan
    + `$in` semi-join into submissions + conditional counts + filtered sum —
    the reference's 4 round-trips as one job. The per-buyer key sets are
    broadcast; nothing large shuffles."""
    t = load_tables(spark, sf_dir)
    profile = (
        t["customer"]
        .filter(F.col("c_custkey") == 42)
        .select(F.col("c_name").alias("name"), F.col("c_acctbal").alias("coins"))
    )
    my_orders = t["orders"].filter(F.col("o_custkey") == 42)
    # exact integer-units money folds + empty-safe conditional counts
    # (count skips NULLs → 0 on empty input, matching the oracle's
    # count(*) FILTER; sum(when...otherwise(0)) would yield NULL) —
    # see the oracle's money-discipline comment
    cents_paid = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    order_stats = my_orders.agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open_tasks"),
        (F.sum(cents_paid) / F.lit(100.0)).alias("total_paid"),
    )
    li = t["lineitem"]
    keys = my_orders.select("o_orderkey")
    sub_stats = (
        li.join(F.broadcast(keys), li.l_orderkey == keys.o_orderkey, "left_semi")
        .agg(
            F.count(F.lit(1)).alias("n_submissions"),
            F.count(F.when(F.col("l_linestatus") == "O", 1)).alias("n_pending"),
            F.count(F.when(F.col("l_linestatus") == "F", 1)).alias("n_approved"),
            tenk_sum(_approved_tenk()).alias("approved_value"),
        )
    )
    return profile.crossJoin(order_stats).crossJoin(sub_stats)


_WORKER_HOME_ORACLE = f"""
SELECT * FROM
  (SELECT s_name AS name, s_acctbal AS coins
   FROM supplier WHERE s_suppkey = 7)
CROSS JOIN
  (SELECT count(*)                             AS total_submissions,
          count(*) FILTER (WHERE l_linestatus = 'O') AS pending_submissions,
          count(*) FILTER (WHERE l_linestatus = 'F') AS approved_submissions,
          {tenk_sum_sql(_APPROVED_TENK)} AS total_earning
   FROM lineitem WHERE l_suppkey = 7)
"""


@register("worker_home_stats", oracle=_WORKER_HOME_ORACLE, tags=("composite",))
def worker_home_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3 worker-home (index.js:325-372): the reference fetches ALL of a
    worker's submissions then filters/sums in JS (A3/A6); here the
    conditional counts and the null-safe earnings sum happen in one
    partial-aggregated pass with the filter pushed to the scan."""
    t = load_tables(spark, sf_dir)
    profile = (
        t["supplier"]
        .filter(F.col("s_suppkey") == 7)
        .select(F.col("s_name").alias("name"), F.col("s_acctbal").alias("coins"))
    )
    li = t["lineitem"].filter(F.col("l_suppkey") == 7)
    # same exact integer-units money fold + empty-safe conditional counts
    # as buyer_home_dashboard (see the money-discipline comment there)
    stats = li.agg(
        F.count(F.lit(1)).alias("total_submissions"),
        F.count(F.when(F.col("l_linestatus") == "O", 1)).alias(
            "pending_submissions"
        ),
        F.count(F.when(F.col("l_linestatus") == "F", 1)).alias(
            "approved_submissions"
        ),
        tenk_sum(_approved_tenk()).alias("total_earning"),
    )
    return profile.crossJoin(stats)


_DUAL_SHAPE_ORACLE = """
SELECT o_orderkey,
       round(COALESCE(payment_amount, price), 2) AS amount,
       COALESCE(payment_method, 'unknown') AS method,
       lower(status) AS status_norm
FROM (
  SELECT o_orderkey,
         round(o_totalprice, 2) AS payment_amount,
         'stripe' AS payment_method,
         CAST(NULL AS DOUBLE) AS price,
         'Pending' AS status
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey,
         CAST(NULL AS DOUBLE),
         CAST(NULL AS VARCHAR),
         round(o_totalprice, 2),
         'pending'
  FROM orders WHERE o_orderkey % 2 = 1
)
WHERE status IN ('pending', 'Pending')
ORDER BY o_orderkey
LIMIT 200
"""


@register("payment_dual_shape", oracle=_DUAL_SHAPE_ORACLE, tags=("composite", "fidelity", "setop"))
def payment_dual_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 fidelity quirks 3-4: the reference persists payments in two
    shapes — the Stripe webhook writes `payment_amount`/`payment_method`
    (index.js:301) while the manual path writes a bare `price`
    (index.js:759) — and stores submission status under two spellings,
    queried with `$in: ['pending','Pending']` (index.js:614). Schema drift
    in a schemaless store becomes, relationally: two typed projections,
    `unionByName(allowMissingColumns=True)` (absent columns → NULL),
    `isin` across both spellings, then COALESCE/lower normalization. At
    scale this is a map-only union — no shuffle until a downstream agg."""
    orders = load_tables(spark, sf_dir)["orders"]
    webhook = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("payment_amount"),
        F.lit("stripe").alias("payment_method"),
        F.lit("Pending").alias("status"),
    )
    manual = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.lit("pending").alias("status"),
    )
    return (
        webhook.unionByName(manual, allowMissingColumns=True)
        .filter(F.col("status").isin("pending", "Pending"))
        .select(
            "o_orderkey",
            F.round(F.coalesce("payment_amount", "price"), 2).alias("amount"),
            F.coalesce("payment_method", F.lit("unknown")).alias("method"),
            F.lower("status").alias("status_norm"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )


_APPROVE_ORACLE = """
SELECT o.o_orderkey,
       count(*) FILTER (WHERE l.l_returnflag = 'A') AS n_approved,
       CASE WHEN count(*) FILTER (WHERE l.l_returnflag = 'A') >= 3
            THEN 'completed' ELSE o.o_orderstatus END AS new_status
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_custkey = 42
GROUP BY o.o_orderkey, o.o_orderstatus
ORDER BY o.o_orderkey
"""


@register("approve_submission_batch", oracle=_APPROVE_ORACLE, tags=("composite", "mutation"))
def approve_submission_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3 honorable-mention `PATCH .../approve` (index.js:799-849): the
    read → ownership check → approved-count → conditional status flip state
    machine (guard `approvedCount >= task.required_workers`, index.js:821)
    as one join + agg + `when` — batch form of the 5-step per-request
    pipeline."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_custkey") == 42)
    li = t["lineitem"]
    joined = li.join(
        F.broadcast(orders), li.l_orderkey == orders.o_orderkey, "inner"
    )
    counted = joined.groupBy("o_orderkey", "o_orderstatus").agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias(
            "n_approved"
        )
    )
    return (
        counted.select(
            "o_orderkey",
            "n_approved",
            F.when(F.col("n_approved") >= 3, "completed")
            .otherwise(F.col("o_orderstatus"))
            .alias("new_status"),
        )
        .orderBy("o_orderkey")
    )
