"""Joins — SURVEY.md §2.4 (J1-J5) plus the anti-join (S7 delete shape).

The reference never uses `$lookup`; it joins in application code two ways —
a hand-built broadcast semi-join (`$in` over pre-collected keys,
index.js:550-554) and an N+1 `findOne` loop (index.js:350-359). Here every
shape is a declarative join and Catalyst plans it.

Scale notes: explicit `F.broadcast` is pinned ONLY where the build side is
provably tiny at ANY scale factor (literal tier tables, one entity's key
set); every SF-proportional side — even a whole dimension table that fits
in memory at fixture scale — is left to AQE, which broadcasts it when the
measured size allows and degrades to a shuffle join at 100× instead of
OOMing a forced BHJ. The one genuinely large-large join in the schema
(lineitem ⋈ orders) sort-merge-joins on the shuffled key; at 100 TB both
sides would be bucketed by orderkey at write time (catalog.py) to eliminate
the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables, local_rows
from ..registry import register

_SEMI_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey = 77)
ORDER BY l_orderkey, l_linenumber
"""


@register("semi_join_probe", oracle=_SEMI_ORACLE, tags=("join",))
def semi_join_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the reference collects one buyer's task ids then probes
    submissions with `$in` (index.js:550-554) — a hand-rolled broadcast
    semi-join. Declaratively: `left_semi` with the key side broadcast; the
    fact table is never shuffled."""
    t = load_tables(spark, sf_dir)
    keys = t["orders"].filter(F.col("o_custkey") == 77).select("o_orderkey")
    li = t["lineitem"]
    return (
        li.join(F.broadcast(keys), li.l_orderkey == keys.o_orderkey, "left_semi")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


_LOOKUP_DEFAULTS_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey,
       coalesce(p_name, 'Unknown Part')      AS part_name,
       coalesce(p_retailprice, CAST(0 AS DOUBLE)) AS retail_price
FROM lineitem
LEFT JOIN part ON p_partkey = l_partkey AND p_size > 25
WHERE l_orderkey < 300
ORDER BY l_orderkey, l_linenumber
"""


@register("lookup_join_defaults", oracle=_LOOKUP_DEFAULTS_ORACLE, tags=("join", "null-semantics"))
def lookup_join_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the N+1 `findOne`-per-row enrichment loop with per-field defaults
    on miss (`task?.task_title || 'Unknown Task'`, index.js:350-359) — a
    left-outer lookup join + coalesce. The extra join condition
    (p_size > 25) manufactures misses so the default path is actually
    exercised (fixture FKs are complete). part is SF-proportional so the
    join strategy is AQE's call (BHJ at fixture scale)."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_orderkey") < 300)
    part = t["part"]
    return (
        li.join(
            part,
            (li.l_partkey == part.p_partkey) & (part.p_size > 25),
            "left_outer",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.coalesce(F.col("p_name"), F.lit("Unknown Part")).alias("part_name"),
            F.coalesce(F.col("p_retailprice"), F.lit(0).cast("double")).alias(
                "retail_price"
            ),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


_CHAIN_ORACLE = """
SELECT l_orderkey, l_linenumber, o_orderstatus, c_name AS buyer_name,
       c_mktsegment AS buyer_segment
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE l_orderkey < 200
ORDER BY l_orderkey, l_linenumber
"""


@register("join_chain_2hop", oracle=_CHAIN_ORACLE, tags=("join",))
def join_chain_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: submission → task → buyer chained lookups (index.js:205-206,
    147-148) as a single two-hop inner join DAG."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_orderkey") < 200)
    orders = t["orders"]
    cust = t["customer"]
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderstatus",
            F.col("c_name").alias("buyer_name"),
            F.col("c_mktsegment").alias("buyer_segment"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


_ANTI_ORACLE = """
SELECT c_mktsegment, count(*) AS n_without_urgent
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("anti_join_missing", oracle=_ANTI_ORACLE, tags=("join",))
def anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7-as-anti-join: `deleteOne(filter)` (index.js:250,700,...) maps to
    `left_anti` — here phrased as its query twin, NOT EXISTS: customers with
    no urgent order."""
    t = load_tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    cust = t["customer"]
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_without_urgent"))
        .orderBy("c_mktsegment")
    )


_THETA_ORACLE = """
SELECT n_name, count(*) AS n_pairs
FROM customer
JOIN supplier ON c_nationkey = s_nationkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE c_acctbal > s_acctbal
GROUP BY n_name
ORDER BY n_name
"""


@register("join_theta_balance", oracle=_THETA_ORACLE, tags=("join",))
def join_theta_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: lookup join + theta predicate on joined columns — the withdrawal
    balance check `user.coins >= w.withdrawal_coin` (index.js:1347-1351).
    Equi-join on nation key carries the hash join; the inequality is a
    post-join filter (Catalyst pushes it into the join as a residual)."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"]
    supp = t["supplier"]
    nation = t["nation"]
    return (
        cust.join(supp, cust.c_nationkey == supp.s_nationkey)
        .filter(F.col("c_acctbal") > F.col("s_acctbal"))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("n_name")
    )


_OWNERSHIP_ORACLE = """
SELECT EXISTS (
  SELECT 1 FROM orders WHERE o_orderkey = 4242 AND o_custkey = 77
) AS is_owner
"""


@register("ownership_check", oracle=_OWNERSHIP_ORACLE, tags=("join", "filter"))
def ownership_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: semi-join as boolean authorization predicate —
    `findOne({_id: subm.task_id, buyer_email})` (index.js:808,862)."""
    orders = load_tables(spark, sf_dir)["orders"]
    return orders.filter(
        (F.col("o_orderkey") == 4242) & (F.col("o_custkey") == 77)
    ).agg((F.count(F.lit(1)) > 0).alias("is_owner"))


_TIERS = ((0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 400.0, "high"), (400.0, 1e9, "extreme"))

_RANGE_JOIN_ORACLE = """
WITH tiers(lo, hi, tier) AS (
  VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'),
         (150.0, 400.0, 'high'), (400.0, 1000000000.0, 'extreme')
)
SELECT tier, count(*) AS n, round(sum(value), 2) AS total_value
FROM events JOIN tiers ON value >= lo AND value < hi
GROUP BY tier
ORDER BY tier
"""


@register("range_join_value_tiers", oracle=_RANGE_JOIN_ORACLE, tags=("join", "range"))
def range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — the second operator Spark lacks natively
    (with as-of): events joined to [lo, hi) value tiers on a non-equi
    predicate. With a tiny range dimension Catalyst runs a
    BroadcastNestedLoopJoin, which is the right plan: fact rows stream
    map-only past the broadcast intervals.

    For a LARGE range dimension the NLJ is quadratic; the scale rewrite is
    binning — assign both sides a fixed-width bin id (floor(x/w)), explode
    intervals across the bins they overlap, equi-join on bin, re-check the
    residual range predicate. That turns the range join into a hash join
    whose skew AQE can manage. `dedup.py`'s band-bucket join is the same
    idea with hashes for bands."""
    events = load_tables(spark, sf_dir)["events"]
    tiers = local_rows(spark, _TIERS, "lo double, hi double, tier string")
    return (
        events.join(
            F.broadcast(tiers),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("tier")
    )


# ------------------------------------------------------ null-safe equi-join

_NULL_SAFE_JOIN_ORACLE = """
WITH cust AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 19 = 0 THEN NULL ELSE c_nationkey END AS nk
  FROM customer
),
dim AS (
  SELECT n_nationkey AS nk, n_name FROM nation
  UNION ALL
  SELECT NULL, 'UNKNOWN'
)
SELECT d.n_name, count(*) AS n_customers
FROM cust c JOIN dim d ON c.nk IS NOT DISTINCT FROM d.nk
GROUP BY d.n_name
ORDER BY n_customers DESC, n_name
"""


@register("join_null_safe_eq", oracle=_NULL_SAFE_JOIN_ORACLE, tags=("join",))
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): customers whose
    nation key is deterministically NULLed (every 19th — the dirty-FK
    shape `constraint_referential_audit` counts) join a dimension that
    carries an explicit NULL->'UNKNOWN' row, so unknown-origin customers
    land in a real bucket instead of vanishing from the inner join — the
    warehouse convention for late-arriving/unknown dimension members.

    `<=>` is a TRUE equi-comparison to the planner (NULL is just another
    key value), so this stays a hash join on nk — no fallback to a
    nested-loop on a null-handling OR-predicate, which is what the naive
    `c.nk = d.nk OR (c.nk IS NULL AND d.nk IS NULL)` spelling degrades
    to. Dimension side is nation-cardinality + 1 → broadcast."""
    cust = load_tables(spark, sf_dir)["customer"].select(
        F.when(F.col("c_custkey") % 19 == 0, None)
        .otherwise(F.col("c_nationkey"))
        .alias("nk")
    )
    nation = load_tables(spark, sf_dir)["nation"]
    dim = nation.select(F.col("n_nationkey").alias("nk"), "n_name").unionAll(
        local_rows(spark, [(None, "UNKNOWN")], "nk bigint, n_name string")
    )
    return (
        cust.join(F.broadcast(dim), cust["nk"].eqNullSafe(dim["nk"]))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), "n_name")
    )


# ---------------------------------------------------- LATERAL correlated top-k

_LATERAL_ORACLE = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n JOIN LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 3
) t ON true
ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


@register("sql_lateral_topk", oracle=_LATERAL_ORACLE, tags=("join", "sql"))
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via SQL LATERAL (correlated table subquery): the
    top-3 customers by balance per nation, written the way an ANSI-SQL
    user writes it — a correlated ORDER BY/LIMIT subquery in the FROM
    clause — rather than the window-function form `topk_per_group` ships.
    Same answer, two dialect surfaces; Catalyst decorrelates the LATERAL
    into the identical rank-then-filter plan, so neither spelling costs
    more (one customer-keyed exchange, per-partition top-k, no global
    sort).

    Both engines support LATERAL natively (Spark 3.2+/DuckDB), and the
    tie-broken ORDER BY makes the k rows deterministic."""
    t = load_tables(spark, sf_dir)
    t["nation"].createOrReplaceTempView("lateral_nation_v")
    t["customer"].createOrReplaceTempView("lateral_customer_v")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM lateral_nation_v n JOIN LATERAL (
          SELECT c_name, c_acctbal FROM lateral_customer_v c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 3
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
        """
    )
