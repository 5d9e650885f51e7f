"""Mutations as pure DataFrame transforms — SURVEY.md §2.1 S4-S7.

The reference mutates MongoDB in place (`insertOne`/`updateOne $set,$inc`/
`deleteOne`); a batch-analytics engine expresses the same semantics as
deterministic transforms over immutable snapshots (SURVEY.md §1.5):

* insert  → `unionByName` with literal rows
* $set    → `when(keyPred, newVal).otherwise(col)`
* $inc    → `when(keyPred, col + δ).otherwise(col)`
* delete  → `left_anti` join against the victim keys

Each query returns a *verifiable aggregate of the post-mutation state* so
the oracle checks the transform, not a side effect. At scale this is the
copy-on-write pattern (the Delta/Iceberg MERGE shape) without a table-format
dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables, local_rows
from ..registry import register

_INSERT_ORACLE = """
WITH after AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
  UNION ALL
  SELECT * FROM (VALUES (9001, 'BUILDING', CAST(50 AS DOUBLE)),
                        (9002, 'MACHINERY', CAST(10 AS DOUBLE)))
)
SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS balance
FROM after
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("mutation_insert_append", oracle=_INSERT_ORACLE, tags=("mutation",))
def mutation_insert_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: `insertOne(doc)` with role-seeded defaults (`role==='buyer' ? 50
    : 10` coins, index.js:393-404) → append-union of literal rows, verified
    by post-state aggregation."""
    cust = load_tables(spark, sf_dir)["customer"].select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    new_rows = local_rows(
        spark,
        [(9001, "BUILDING", 50.0), (9002, "MACHINERY", 10.0)],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    return (
        cust.unionByName(new_rows)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("balance"),
        )
        .orderBy("c_mktsegment")
    )


_UPDATE_SET_ORACLE = """
WITH after AS (
  SELECT o_orderkey,
         CASE WHEN o_custkey = 77 AND o_orderstatus = 'P'
              THEN 'F' ELSE o_orderstatus END AS o_orderstatus
  FROM orders
)
SELECT o_orderstatus, count(*) AS n
FROM after
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("mutation_update_set", oracle=_UPDATE_SET_ORACLE, tags=("mutation",))
def mutation_update_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: `updateOne(filter, {$set:{status:...}})` (index.js:828-831,
    869-872) — conditional column rewrite over the snapshot; post-state
    status histogram proves exactly the matched rows changed."""
    orders = load_tables(spark, sf_dir)["orders"]
    after = orders.select(
        "o_orderkey",
        F.when(
            (F.col("o_custkey") == 77) & (F.col("o_orderstatus") == "P"), "F"
        )
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    return (
        after.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


_UPDATE_INC_ORACLE = """
WITH after AS (
  SELECT c_custkey,
         c_acctbal + CASE WHEN c_mktsegment = 'FURNITURE' THEN -25.5 ELSE 0 END
           AS c_acctbal
  FROM customer
)
SELECT round(sum(c_acctbal), 2) AS total_after,
       round(min(c_acctbal), 2) AS min_after
FROM after
"""


@register("mutation_update_inc", oracle=_UPDATE_INC_ORACLE, tags=("mutation",))
def mutation_update_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: `updateOne(filter, {$inc:{coins: δ}})` with negative δ — the
    coin-deduction write (index.js:489-492). Applied set-wide here (every
    FURNITURE customer pays 25.5) to make the arithmetic visible in the
    checked aggregate."""
    cust = load_tables(spark, sf_dir)["customer"]
    after = cust.select(
        "c_custkey",
        (
            F.col("c_acctbal")
            + F.when(F.col("c_mktsegment") == "FURNITURE", -25.5).otherwise(0.0)
        ).alias("c_acctbal"),
    )
    return after.agg(
        F.round(F.sum("c_acctbal"), 2).alias("total_after"),
        F.round(F.min("c_acctbal"), 2).alias("min_after"),
    )


_DELETE_ORACLE = """
WITH after AS (
  SELECT * FROM orders
  WHERE o_orderkey NOT IN (
    SELECT o_orderkey FROM orders WHERE o_custkey = 77 AND o_orderstatus = 'O'
  )
)
SELECT count(*) AS n_remaining,
       count(*) FILTER (WHERE o_custkey = 77) AS n_cust77_remaining
FROM after
"""


@register("mutation_delete_anti", oracle=_DELETE_ORACLE, tags=("mutation",))
def mutation_delete_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: `deleteOne(filter)` (index.js:250,700,1128,1183) → left_anti
    against the victim-key set; the intended semantics of the reference's
    broken `/admin/tasks` delete (SURVEY.md §2.11 item 6) implemented
    correctly."""
    orders = load_tables(spark, sf_dir)["orders"]
    victims = orders.filter(
        (F.col("o_custkey") == 77) & (F.col("o_orderstatus") == "O")
    ).select("o_orderkey")
    after = orders.join(victims, "o_orderkey", "left_anti")
    return after.agg(
        F.count(F.lit(1)).alias("n_remaining"),
        F.sum(F.when(F.col("o_custkey") == 77, 1).otherwise(0)).alias(
            "n_cust77_remaining"
        ),
    )


_SCD2_ORACLE = """
WITH upd AS (
  SELECT o_custkey,
         floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               / 1000.0 + 0.5) / 100.0 AS new_bal
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  GROUP BY o_custkey
),
j AS (
  SELECT c_custkey, round(c_acctbal, 2) AS old_bal, new_bal
  FROM customer LEFT JOIN upd ON c_custkey = o_custkey
),
versions AS (
  SELECT c_custkey, 1 AS version, old_bal AS acctbal,
         (new_bal IS NULL OR new_bal = old_bal) AS is_current,
         DATE '1990-01-01' AS valid_from,
         CASE WHEN new_bal IS NOT NULL AND new_bal <> old_bal
              THEN DATE '1995-01-01' END AS valid_to
  FROM j
  UNION ALL
  SELECT c_custkey, 2, new_bal, TRUE, DATE '1995-01-01', NULL
  FROM j WHERE new_bal IS NOT NULL AND new_bal <> old_bal
)
SELECT c_custkey, version, acctbal, is_current, valid_from, valid_to
FROM versions
ORDER BY c_custkey, version
"""


@register("mutation_scd2_merge", oracle=_SCD2_ORACLE, tags=("mutation", "scd"))
def mutation_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2: apply a CDC batch (per-customer
    1995 order volume as the 'new balance' feed) to the `customer`
    dimension, emitting versioned rows with validity intervals — changed
    keys get their old row closed (`valid_to` set, `is_current` false) plus
    a new current row; unchanged keys pass through.

    The reference has no history-keeping analog (every `updateOne` at e.g.
    index.js:486-491 overwrites in place); SCD2 is what the same update
    stream looks like when the warehouse must answer "as of when".

    Single-pass MERGE shape: dimension LEFT JOIN change-feed, then each row
    expands to an ARRAY of 1-2 version structs that `explode` flattens —
    the dimension is scanned ONCE (the naive UNION of changed/unchanged
    branches scans it per branch). At 100 TB this is exactly the
    Delta/Iceberg MERGE plan: one shuffle on the join key (or none if the
    dimension is bucketed by key), map-side version expansion, no
    wide-table rescan."""
    t = load_tables(spark, sf_dir)
    upd = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-01-01"))
        )
        .groupBy("o_custkey")
        .agg(
            # exact cents fold: sum(2-dec)/1000 is 5-decimal and CAN sit
            # on a half-cent boundary (the .xx5 tie class; see the q1
            # money-discipline comment in plans/tpch.py)
            (
                F.floor(
                    F.sum(
                        F.floor(
                            F.col("o_totalprice") * 100 + F.lit(0.5)
                        ).cast("bigint")
                    )
                    / F.lit(1000.0)
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("new_bal")
        )
    )
    j = (
        t["customer"]
        .select("c_custkey", F.round("c_acctbal", 2).alias("old_bal"))
        .join(upd, F.col("c_custkey") == F.col("o_custkey"), "left")
    )
    changed = F.col("new_bal").isNotNull() & (F.col("new_bal") != F.col("old_bal"))
    d_open = F.lit("1990-01-01").cast("date")
    d_cut = F.lit("1995-01-01").cast("date")
    d_null = F.lit(None).cast("date")
    closed_or_current = F.struct(
        F.lit(1).alias("version"),
        F.col("old_bal").alias("acctbal"),
        (~changed).alias("is_current"),
        d_open.alias("valid_from"),
        F.when(changed, d_cut).otherwise(d_null).alias("valid_to"),
    )
    new_current = F.struct(
        F.lit(2).alias("version"),
        F.col("new_bal").alias("acctbal"),
        F.lit(True).alias("is_current"),
        d_cut.alias("valid_from"),
        d_null.alias("valid_to"),
    )
    return (
        j.select(
            "c_custkey",
            # explode_outer: the version array is always 1-2 elements;
            # plain explode's implicit filter re-evaluates it pre-project
            F.explode_outer(
                F.when(changed, F.array(closed_or_current, new_current)).otherwise(
                    F.array(closed_or_current)
                )
            ).alias("ver"),
        )
        .select("c_custkey", "ver.*")
        .orderBy("c_custkey", "version")
    )


# -------------------------------------------------- point-in-time SCD2 join

_PIT_ORACLE = """
WITH upd AS (
  SELECT o_custkey,
         floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               / 1000.0 + 0.5) / 100.0 AS new_bal
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  GROUP BY o_custkey
),
j AS (
  SELECT c_custkey, round(c_acctbal, 2) AS old_bal, new_bal
  FROM customer LEFT JOIN upd ON c_custkey = o_custkey
),
versions AS (
  SELECT c_custkey, 1 AS version, old_bal AS acctbal,
         DATE '1990-01-01' AS valid_from,
         CASE WHEN new_bal IS NOT NULL AND new_bal <> old_bal
              THEN DATE '1995-01-01' END AS valid_to
  FROM j
  UNION ALL
  SELECT c_custkey, 2, new_bal, DATE '1995-01-01', NULL
  FROM j WHERE new_bal IS NOT NULL AND new_bal <> old_bal
)
SELECT v.version,
       count(*) AS n_orders,
       count(DISTINCT o.o_custkey) AS n_customers,
       round(sum(o.o_totalprice), 2) AS revenue,
       floor((sum(CAST(floor(v.acctbal * 100 + 0.5) AS BIGINT))
              / count(*)) + 0.5) / 100.0 AS avg_balance_seen
FROM orders o
JOIN versions v
  ON o.o_custkey = v.c_custkey
 AND CAST(o.o_orderdate AS DATE) >= v.valid_from
 AND (v.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < v.valid_to)
GROUP BY v.version
ORDER BY v.version
"""


@register("orders_point_in_time_scd2", oracle=_PIT_ORACLE, tags=("join", "scd", "event-time"))
def orders_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against the SCD2 dimension: every order joined
    to the customer-balance VERSION that was valid on its order date —
    the "what did the dimension say when the fact happened" query that
    is the entire reason SCD2 history (`mutation_scd2_merge`, whose
    builder this composes) is kept. An order placed before the 1995
    balance revision sees version 1's balance; later orders of revised
    customers see version 2 — joining the current dimension instead
    would silently rewrite history (the reference's update-in-place
    model, index.js:486-491, can only do the wrong one).

    Plan: EQUI-join on the customer key with the validity interval as a
    residual predicate inside each key group — never a range-only join;
    version count per key is 1-2 so there is no row explosion, and the
    one shuffle is the same key exchange any orders⋈customer join pays.
    Validity intervals partition [1990, ∞) per key, so each order
    matches exactly one version (asserted by the n_orders total equaling
    the fact count in the oracle's cells)."""
    versions = mutation_scd2_merge(spark, sf_dir).select(
        "c_custkey", "version", "acctbal", "valid_from", "valid_to"
    )
    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_date"),
    )
    joined = orders.join(
        versions,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_date") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("o_date") < F.col("valid_to"))),
    )
    return (
        joined.groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            (
                # exact cents avg: acctbal versions are 2-dec; the true
                # mean can sit on a half-cent boundary (tie class)
                F.floor(
                    F.sum(
                        F.floor(
                            F.col("acctbal") * 100 + F.lit(0.5)
                        ).cast("bigint")
                    )
                    / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("avg_balance_seen"),
        )
        .orderBy("version")
    )
