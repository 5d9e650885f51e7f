"""Headline analytical plans (TPC-H-shaped) — the engine's flagship queries.

The reference's richest read path (`/root/reference/index.js:542-589`,
SURVEY.md §3.1) is a scan→filter→join→aggregate dashboard; these queries are
the same shapes at analytical scale on the driver fixtures, and double as the
bench workload.

Scale design: `lineitem` is the 100 TB fact; every plan here aggregates it
with map-side partial aggregation (Catalyst HashAggregate partial→final)
and keeps all expressions JVM-codegen'd (no Python UDFs). Filters are
written directly against scan columns so Parquet row-group pruning and
predicate pushdown apply.

Broadcast policy (SCALE.md): a static `F.broadcast` hint is pinned ONLY on
sides whose size is provably SF-INVARIANT — region/nation (25 rows at any
scale factor), 1-row scalar aggregates, literal tables, and bounded key
sets (e.g. `c_custkey < 100`-class filters). Filtered-but-SF-proportional
sides (a market segment of customer, a type/brand slice of part, an
unfiltered dimension) get NO hint: AQE broadcasts them at fixture scale
when the measured size is under the threshold, and at 100× the same plan
degrades to a shuffle join instead of OOMing a forced build side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import register
from .lifecycle import tenk, tenk_sql, tenk_sum, tenk_sum_sql


# Money discipline (as in plans/lifecycle.py): the
# `round(sum(<double>), 2)` / `round(avg(<double>), N)` spellings are
# the .xx5 tie class — Spark's partial-agg summation order vs DuckDB's
# sequential order can land the float sum on opposite sides of a
# half-unit boundary, and even the SAME double rounds differently
# (BigDecimal-HALF-UP-on-shortest-repr vs multiply-then-round). Every
# term folds to EXACT integer units first (quantity is integer-valued;
# extendedprice/discount are 2-decimal → cents; the disc_price product
# is 4-decimal → ten-thousandths; the charge triple product 6-decimal →
# millionths), the integer sums are exact, and the displayed decimals
# come from one identical IEEE op sequence on both engines.
#
# Classification for the round() spellings that REMAIN repo-wide:
# `round(sum(<raw 2-dec column>), 2)` is tie-FREE — the true sum is a
# multiple of 0.01, the float reorder error is ~1e-9, and the nearest
# rounding boundary is 0.005 away, so no summation order can cross it.
# The converted class is sums whose TRUE value has more decimals than
# the rounding scale (4/5/6-dec products, scaled sums, money averages
# and ratios), where the boundary can be hit exactly. Residual accepted
# risk: round(avg/stddev of integer day-counts, 6) in
# operators/windows.py — irrational true values whose shortest double
# repr lands on a ...5 at the 7th digit (~1e-10/value); the stddev
# conversion needs an integer-moment rewrite whose n*Σx² term can
# overflow ANSI bigint at extreme per-key cardinality, so the exposure
# is documented instead of traded for an overflow at scale.
_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) / 1.0               AS sum_qty,
  sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0  AS sum_base_price,
  {tenk_sum_sql(tenk_sql("l_extendedprice * (1 - l_discount)"))} AS sum_disc_price,
  floor((sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                        * 1000000 + 0.5) AS BIGINT)) + 5000)
        / 10000.0) / 100.0                                         AS sum_charge,
  floor((sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) / count(*))
        * 10000.0 + 0.5) / 10000.0                                 AS avg_qty,
  floor((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / count(*))
        * 100.0 + 0.5) / 10000.0                                   AS avg_price,
  floor((sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) / count(*))
        * 10000.0 + 0.5) / 1000000.0                               AS avg_disc,
  count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE, tags=("headline", "agg"))
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate grouped scan of the fact table.

    Reference analog: the multi-metric dashboard aggregations
    (`index.js:1200-1233`, SURVEY.md §2.5 A7) — counts+sums computed in one
    pass instead of the reference's four sequential round-trips.
    """
    lineitem = load_tables(spark, sf_dir)["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # exact integer-units folds — operation order mirrors the oracle
    # character for character (see the money-discipline comment there)
    half = F.lit(0.5)
    qty_i = F.floor(F.col("l_quantity") + half).cast("bigint")
    cents_price = F.floor(F.col("l_extendedprice") * 100 + half).cast("bigint")
    um_charge = F.floor(
        disc_price * (1 + F.col("l_tax")) * 1000000 + half
    ).cast("bigint")
    cents_disc = F.floor(F.col("l_discount") * 100 + half).cast("bigint")
    n = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_i) / F.lit(1.0)).alias("sum_qty"),
            (F.sum(cents_price) / F.lit(100.0)).alias("sum_base_price"),
            tenk_sum(tenk(disc_price)).alias("sum_disc_price"),
            (
                F.floor((F.sum(um_charge) + F.lit(5000)) / F.lit(10000.0))
                / F.lit(100.0)
            ).alias("sum_charge"),
            (
                F.floor((F.sum(qty_i) / n) * F.lit(10000.0) + half)
                / F.lit(10000.0)
            ).alias("avg_qty"),
            (
                F.floor((F.sum(cents_price) / n) * F.lit(100.0) + half)
                / F.lit(10000.0)
            ).alias("avg_price"),
            (
                F.floor((F.sum(cents_disc) / n) * F.lit(10000.0) + half)
                / F.lit(1000000.0)
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q3_ORACLE = f"""
SELECT
  l_orderkey,
  {tenk_sum_sql(tenk_sql("l_extendedprice * (1 - l_discount)"))} AS revenue,
  strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE, tags=("headline", "join", "topk"))
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → grouped agg → top-k.

    Reference analog: buyer-home (`index.js:542-589`) = filter a small side
    (one buyer's tasks), join the fact (submissions), aggregate. The
    segment-filtered customer side and the date-filtered orders side are
    both SF-PROPORTIONAL (the segment keeps ~1/5 of customers, the date
    keeps ~97% of orders), so neither carries a static broadcast hint — a
    pinned hint would force BHJ and OOM at 100×; AQE broadcasts them at
    runtime whenever the measured build side is actually small
    (SURVEY.md §2.4 J1, SCALE.md broadcast policy).
    """
    t = load_tables(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = t["lineitem"].filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            tenk_sum(
                tenk(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT n_name,
       {tenk_sum_sql(tenk_sql("l_extendedprice * (1 - l_discount)"))} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("q5_region_volume", oracle=_Q5_ORACLE, tags=("headline", "join"))
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with a region filter.

    Reference analog: the 2-hop chained lookup joins (`index.js:205-206`,
    SURVEY.md §2.4 J3) generalized to a full star. Only region/nation (25
    rows at ANY scale factor) carry static broadcast hints; supplier and
    customer are SF-proportional, so their joins are left to AQE — at
    fixture scale AQE broadcasts them, at 100× they degrade gracefully to
    shuffle joins instead of OOMing a pinned build side.
    """
    t = load_tables(spark, sf_dir)
    region = t["region"].filter(F.col("r_name") == "ASIA")
    nation = t["nation"].join(
        F.broadcast(region), t["nation"].n_regionkey == region.r_regionkey
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t["lineitem"]
    cust = t["customer"]
    supp = t["supplier"]
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            li.l_suppkey == supp.s_suppkey,
        )
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            tenk_sum(
                tenk(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


_ARGMIN_ORACLE = """
WITH mn AS (
  SELECT o_custkey, min(o_totalprice) AS m
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 2) AS price
FROM customer
JOIN orders ON c_custkey = orders.o_custkey
JOIN mn ON orders.o_custkey = mn.o_custkey AND o_totalprice = m
WHERE c_custkey < 100
ORDER BY c_custkey, o_orderkey
"""


@register("argmin_cheapest_order", oracle=_ARGMIN_ORACLE, tags=("join", "agg"))
def argmin_cheapest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's argmin shape on the fixture schema: the per-group
    minimum computed once, joined back to select the achieving rows
    (Catalyst decorrelates the equivalent correlated subquery to exactly
    this plan). Ties keep all achieving rows in both engines."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"]
    mn = orders.groupBy("o_custkey").agg(F.min("o_totalprice").alias("m"))
    cust = t["customer"].filter(F.col("c_custkey") < 100)
    return (
        orders.join(
            # per-customer aggregate → SF-proportional: no static hint
            mn.withColumnRenamed("o_custkey", "mk"),
            (F.col("o_custkey") == F.col("mk")) & (F.col("o_totalprice") == F.col("m")),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("c_custkey", "o_orderkey")
    )


_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(l_quantity) > 300
)
SELECT c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o_totalprice, 2) AS totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY totalprice DESC, o_orderkey
LIMIT 20
"""


@register("q18_large_orders", oracle=_Q18_ORACLE, tags=("headline", "agg", "join"))
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as a semi-join filter on
    the fact, then re-aggregate with dimensions. The `big` subquery is the
    interesting plan piece: one pass over lineitem produces the qualifying
    keys (partial-agg'd), which then SEMI-join back — no row
    multiplication before the final group-by. At 100 TB both lineitem
    passes shuffle on l_orderkey, so with bucketed tables
    (source_bucketed_join) they'd be shuffle-free."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_orderkey")
    )
    orders = t["orders"].join(
        big.withColumnRenamed("l_orderkey", "bk"),
        F.col("o_orderkey") == F.col("bk"),
        "left_semi",
    )
    return (
        # orders is semi-filtered to qty>300 keys (very selective) → hint ok;
        # customer is unfiltered SF-proportional → AQE decides.
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(20)
    )


_Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, yr,
       {tenk_sum_sql(tenk_sql("volume"))} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS yr,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey  = o_custkey
  JOIN supplier ON s_suppkey  = l_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, yr
ORDER BY supp_nation, cust_nation, yr
"""


@register("q7_nation_volume", oracle=_Q7_ORACLE, tags=("headline", "join"))
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension table (nation) joined twice under
    different roles (supplier's nation vs customer's nation) with a
    disjunctive cross-pair predicate.

    Reference analog: the 2-hop enrichment joins (`index.js:205-206`,
    SURVEY.md §2.4 J3) where one lookup table serves two roles. Plan notes:
    both nation dims are filtered to the two named nations BEFORE the join
    (so the broadcast build sides carry 2 rows each and the pair-OR
    predicate only runs on survivors); customer and supplier are
    SF-proportional so their joins carry no static hint (AQE broadcasts
    them at fixture scale, shuffles at 100×); lineitem↔orders is
    co-partitioned under the bucketed-table layout
    (source_bucketed_join)."""
    t = load_tables(spark, sf_dir)
    pair = ("NATION_1", "NATION_2")
    n1 = (
        t["nation"].filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        t["nation"].filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    )
    li = t["lineitem"]
    joined = (
        li.join(t["orders"], li.l_orderkey == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("yr"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "yr")
        # exact integer ten-thousandths fold (see the q1 money-discipline
        # comment); volume is the 4-decimal disc_price product
        .agg(tenk_sum(tenk(F.col("volume"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "yr")
    )


_Q8_ORACLE = f"""
SELECT yr,
       floor((sum(CASE WHEN supp_nation = 'NATION_5'
                       THEN {tenk_sql("volume")}
                       ELSE 0 END)
              / sum({tenk_sql("volume")}))
             * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
FROM (
  SELECT year(o_orderdate) AS yr,
         l_extendedprice * (1 - l_discount) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region   ON n2.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
) all_nations
GROUP BY yr
ORDER BY yr
"""


@register("q8_market_share", oracle=_Q8_ORACLE, tags=("headline", "join", "agg"))
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share = ratio of two conditional
    aggregates over an 8-table star join (nation again in two roles; the
    numerator is `sum(CASE WHEN))` — SURVEY.md §2.5 A3's conditional-count
    idiom applied to revenue).

    Scale: the only big-big join is lineitem↔orders; the type-filtered part
    and the customer/supplier sides are SF-proportional, so they carry no
    static broadcast hint (AQE broadcasts at fixture scale, degrades to
    shuffle at 100×); only the two nation roles are pinned broadcast. The
    ratio is computed post-aggregation on grouped rows (one row per year),
    so the division never touches fact-table cardinality."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    region = t["region"].filter(F.col("r_name") == "ASIA")
    n2 = (
        t["nation"].join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    li = t["lineitem"]
    joined = (
        li.join(part, li.l_partkey == F.col("p_partkey"))
        .join(t["orders"], li.l_orderkey == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.select(
            F.year("o_orderdate").alias("yr"),
            vol.alias("volume"),
            "supp_nation",
        )
        .groupBy("yr")
        # exact integer folds: both sums are exact ten-thousandths, the
        # ratio is one deterministic IEEE division, and the 6-decimal
        # display is the pure-IEEE fold (see the q1 money-discipline
        # comment); the units cancel in the ratio
        .agg(
            (
                F.floor(
                    (
                        F.sum(
                            F.when(
                                F.col("supp_nation") == "NATION_5",
                                tenk(F.col("volume")),
                            ).otherwise(F.lit(0))
                        )
                        / F.sum(tenk(F.col("volume")))
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("mkt_share")
        )
        .orderBy("yr")
    )


_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_order_histogram", oracle=_Q13_ORACLE, tags=("join", "agg"))
def q13_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — per-customer order counts
    (preserving zero-order customers via LEFT OUTER with a join-side filter)
    re-aggregated into a distribution histogram.

    The join-side predicate (`o_orderpriority <> '5-LOW'`) must live in the
    join condition, not a WHERE, or zero-order customers vanish — the outer-
    join analog of SURVEY.md §2.11's null-fidelity traps. Scale: first agg
    shuffles on c_custkey (fact-sized), second on c_count (tiny);
    count(o_orderkey) counts only matched rows, so the null path needs no
    special casing."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q14_ORACLE = f"""
SELECT floor(
         (100.0 * sum(CASE WHEN p_type = 'PROMO'
                           THEN {tenk_sql("l_extendedprice * (1 - l_discount)")}
                           ELSE 0 END)
          / sum({tenk_sql("l_extendedprice * (1 - l_discount)")}))
         * 10000.0 + 0.5) / 10000.0 AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
"""


@register("q14_promo_revenue", oracle=_Q14_ORACLE, tags=("join", "agg"))
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: single-row global ratio of conditional revenue over a
    month of fact data joined to a dimension.

    The date filter prunes at the Parquet scan (pushed predicate on
    l_shipdate); part is SF-proportional so AQE owns the join strategy
    (broadcast at fixture scale); the aggregate collapses to one row before
    the division — the `x || 0` default-then-divide idiom of the reference's
    dashboard percentages (SURVEY.md §2.8 X1) done engine-side."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            # exact integer ten-thousandths folds; ratio of two exact
            # integer sums is one deterministic IEEE division, 4-decimal
            # display via the pure-IEEE fold (see the q1 money-discipline
            # comment) — units cancel in the ratio
            (
                F.floor(
                    (
                        F.lit(100.0)
                        * F.sum(
                            F.when(
                                F.col("p_type") == "PROMO",
                                tenk(vol),
                            ).otherwise(F.lit(0))
                        )
                        / F.sum(tenk(vol))
                    )
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("promo_revenue")
        )
    )


_Q16_ORACLE = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("q16_supplier_cnt", oracle=_Q16_ORACLE, tags=("join", "agg"))
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN exclusion subquery (→ anti-join; sound here
    because s_suppkey is non-null, sidestepping NOT IN's three-valued-logic
    trap) + count(DISTINCT) grouped by part attributes, with lineitem
    standing in for partsupp as the part↔supplier bridge (the fixture has no
    partsupp table).

    Scale: the exclusion side (negative-balance suppliers) and the
    size-filtered part side are both SF-proportional, so neither is pinned
    broadcast — AQE picks BHJ at fixture scale and falls back to shuffle
    at 100×. count(DISTINCT l_suppkey) expands to
    Catalyst's two-phase distinct-aggregate (partial dedup per partition
    before the shuffle), so the shuffle carries distinct (group, suppkey)
    pairs, not raw fact rows."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
    )
    bad_supp = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = t["lineitem"].join(
        bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


_Q22_ORACLE = """
WITH ab AS (
  SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer, ab
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("q22_idle_capital", oracle=_Q22_ORACLE, tags=("join", "agg"))
def q22_idle_capital(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar aggregate subquery (global average balance)
    as a filter threshold + NOT EXISTS anti-join (customers with no urgent
    orders), re-aggregated by segment.

    The scalar subquery is a 1-row DataFrame cross-joined broadcast — the
    same plan Catalyst produces for an uncorrelated scalar subquery: the
    average is computed once, shipped to every executor, never recomputed
    per row. The NOT EXISTS side is filtered to urgent orders BEFORE the
    anti-join so the build side shrinks 5×. Reference analog: the balance
    guard predicates of SURVEY.md §2.3 F7 (`user.coins < totalCost`) done
    set-wise."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"]
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q4_priority_check", oracle=_Q4_ORACLE, tags=("join", "agg"))
def q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS over the fact table -> left-semi
    join, counting orders per priority that had at least one late shipment.
    (The fixture has no l_commitdate/l_receiptdate; lateness here is
    `l_shipdate > o_orderdate + 60 days`, preserving the correlated-
    inequality semi-join shape.)

    Scale: the semi-join carries only (l_orderkey, l_shipdate) from the fact
    side after column pruning, and the orders side is pre-filtered to one
    quarter before the shuffle. The correlated predicate rides in the join
    condition, so the semi-join deduplicates order keys during the build —
    no distinct pass needed. Reference analog: existence checks
    (SURVEY.md §2.3 F8) batched set-wise."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q6_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE, tags=("agg",))
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero joins — the purest
    test of predicate pushdown + whole-stage codegen.

    All three predicates (date range, discount band, quantity cap) are plain
    column comparisons, so every one reaches the Parquet reader as a pushed
    filter and prunes row groups by min/max stats; at 100 TB this is the
    difference between scanning a year and scanning the whole table. The agg
    is a single partial->final HashAggregate with no grouping keys (one row),
    so the shuffle carries 32 partial sums total."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


_Q9_ORACLE = """
SELECT nation, yr, CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS yr,
         CAST(l_extendedprice * (1 - l_discount)
           - 0.8 * p_retailprice * l_quantity AS DECIMAL(18,4)) AS amount
  FROM lineitem
  JOIN part     ON p_partkey  = l_partkey
  JOIN supplier ON s_suppkey  = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, yr
ORDER BY nation, yr DESC
"""


@register("q9_product_profit", oracle=_Q9_ORACLE, tags=("join", "agg"))
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per nation per year for parts matching a
    substring pattern (LIKE '%...%'). (No partsupp in the fixture, so supply
    cost is modeled as 0.8 x p_retailprice; the join topology — fact joined
    to 4 tables with a non-pushable contains-pattern on the dimension — is
    what the shape exercises.)

    Scale: `contains` can't prune row groups, but it runs on the PART
    dimension, shrinking it BEFORE the join. part/supplier are
    SF-proportional → no static hint (AQE broadcasts them at fixture
    scale); nation (25 rows at any SF) stays pinned. lineitem<->orders is
    the one guaranteed shuffle join.

    The profit expression subtracts two same-magnitude products
    (cancellation), so double summation order shifts the cent rounding
    between engines; the amount is cast to DECIMAL(18,4) per row in BOTH
    engines so the aggregate is exact and order-independent."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(F.col("p_name").contains("widget")).select(
        "p_partkey", "p_retailprice"
    )
    li = t["lineitem"]
    joined = (
        li.join(part, li.l_partkey == F.col("p_partkey"))
        .join(t["supplier"], li.l_suppkey == F.col("s_suppkey"))
        .join(t["orders"], li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.8 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
            amount.cast("decimal(18,4)").alias("amount"),
        )
        .groupBy("nation", "yr")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("yr").desc())
    )


_Q10_ORACLE = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS acctbal, n_name, c_mktsegment
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10_ORACLE, tags=("join", "agg", "topk"))
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in one
    quarter — fact-filtered join, group by the full customer tuple, global
    top-k.

    Scale: both fact filters (quarter of orders, returnflag='R') push to the
    scans; nation broadcasts (SF-invariant), customer is left to AQE
    (SF-proportional); the grouped set is customer-
    cardinality so the final TakeOrderedAndProject top-k needs only 20 rows
    per partition. c_custkey in the ORDER BY breaks revenue ties so the
    20-row cut is deterministic across engines."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
            "c_mktsegment",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q11_ORACLE = """
WITH nation_value AS (
  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS part_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT l_partkey, round(part_value, 2) AS part_value
FROM nation_value
WHERE part_value > (SELECT sum(part_value) * 0.001 FROM nation_value)
ORDER BY part_value DESC, l_partkey
"""


@register("q11_value_concentration", oracle=_Q11_ORACLE, tags=("join", "agg"))
def q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-key value sums filtered by a scalar threshold
    derived from the SAME aggregate (parts holding >0.1% of one nation's
    traded value). lineitem stands in for partsupp as the part<->supplier
    bridge.

    Scale: the per-part aggregate is computed once and persisted
    conceptually — in this plan Catalyst's ReuseExchange dedupes the two
    consumers of the identical aggregate subplan (verified in the physical
    plan), so the fact table is scanned and shuffled once. The grand total
    collapses to 1 row broadcast to the filter. Rounding happens AFTER the
    threshold comparison in both engines so the cut uses full precision."""
    t = load_tables(spark, sf_dir)
    nat = t["nation"].filter(F.col("n_name") == "NATION_3").select("n_nationkey")
    supp = (
        t["supplier"]
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    per_part = (
        t["lineitem"]
        # one nation's suppliers: SF-proportional → AQE owns the strategy
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "part_value_raw"
            )
        )
    )
    threshold = per_part.agg(
        (F.sum("part_value_raw") * F.lit(0.001)).alias("cutoff")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value_raw") > F.col("cutoff"))
        .select("l_partkey", F.round("part_value_raw", 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


_Q12_ORACLE = """
SELECT l_linestatus,
       count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
           AS high_line_count,
       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
           AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@register("q12_late_lines", oracle=_Q12_ORACLE, tags=("join", "agg"))
def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: dual conditional counters (high- vs low-priority)
    over fact rows that violate a cross-table date condition. (No l_shipmode
    in the fixture: grouping is by l_linestatus and "late" is shipping >30
    days after the order date — the join-predicate + CASE-counter topology
    is unchanged.)

    Scale: the year filter pushes to the lineitem scan; the cross-table
    lateness predicate evaluates inside the join (no post-join filter
    stage); the CASE counters are map-side partial sums — the classic
    "pivot a flag into columns" idiom (SURVEY.md §2.5 A3) at fact scale."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            t["orders"],
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("q15_top_supplier", oracle=_Q15_ORACLE, tags=("join", "agg"))
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax over a derived aggregate — the supplier(s)
    whose quarterly revenue equals the global maximum (the original's
    revenue VIEW expressed as a reused DataFrame).

    Scale: the per-supplier aggregate is supplier-cardinality (small); the
    1-row max is broadcast back and compared with equality. Revenue is
    rounded to cents BEFORE the max/equality in BOTH engines, so the
    comparison is exact and the ties-keep-all semantics are deterministic.
    Same argmax-join-back pattern as `argmin_cheapest_order` (Q2 shape) but
    with a global (ungrouped) extreme."""
    t = load_tables(spark, sf_dir)
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(t["supplier"], F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_Q17_ORACLE = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
    SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


@register("q17_small_quantity", oracle=_Q17_ORACLE, tags=("join", "agg"))
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery — revenue from orders
    below half the part's own average quantity.

    Plan: the correlated `avg(l_quantity) per part` decorrelates into a
    grouped aggregate joined back on partkey — but computed only for the
    one brand's parts: the brand filter shrinks part to ~1/25 — still
    SF-proportional, so no pinned broadcast (AQE picks BHJ at fixture
    scale); the per-part averages over that already-filtered fact slice are
    what the threshold needs, and being brand-parts-cardinality they are
    likewise left to AQE rather than force-broadcast.
    The DuckDB oracle's correlated subquery sees lineitem rows ONLY for
    brand parts too (the avg is per-partkey and partkeys are brand-
    disjoint), so both engines aggregate identical slices."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    li_b = t["lineitem"].join(
        part, F.col("l_partkey") == F.col("p_partkey")
    )
    per_part_avg = li_b.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("qty_cutoff")
    )
    return (
        li_b.join(per_part_avg, F.col("l_partkey") == F.col("avg_pk"))
        .filter(F.col("l_quantity") < F.col("qty_cutoff"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


_Q19_ORACLE = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#2'
       AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#3'
       AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4'
       AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@register("q19_disjunctive_revenue", oracle=_Q19_ORACLE, tags=("join", "agg"))
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate straddling both join sides
    (part attributes AND lineitem quantity per disjunct).

    Plan: the disjunction can't split into per-side pushdowns wholesale, but
    each side's derivable envelope CAN: part is pre-filtered to the brand
    union and size max, lineitem to the quantity envelope [1,30] — both push
    to the scans — then the exact OR evaluates inside the join (AQE-chosen
    strategy; the filtered part side is SF-proportional so it is not
    pinned broadcast).
    This derived-envelope trick is what keeps a 100 TB scan from reading
    rows no disjunct could accept."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(
        F.col("p_brand").isin("Brand#2", "Brand#3", "Brand#4")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 15)
    )
    li = t["lineitem"].filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    disjunct = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(disjunct)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


_Q20_ORACLE = """
SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_4'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_type = 'PROMO'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 100
  )
ORDER BY s_suppkey
"""


@register("q20_promo_suppliers", oracle=_Q20_ORACLE, tags=("join", "agg"))
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN-subquery chain — suppliers (in one nation)
    who moved real volume of a part class: part-filter -> fact aggregate with
    HAVING -> semi-join into the supplier dimension.

    Scale: evaluation runs inside-out — PROMO parts join into the
    year-pruned fact scan, per-supplier quantity sums (supplier-cardinality)
    filter by the HAVING threshold, and that key set semi-joins supplier.
    Both small sides are SF-proportional (type-filtered part, HAVING-
    filtered supplier keys), so neither is pinned broadcast — AQE
    broadcasts them at fixture scale and the plan degrades to shuffle
    joins at 100× instead of OOMing. The 100 TB fact is touched once.
    Reference analog: SURVEY.md §2.4 J1's id-list-then-probe done in
    one plan instead of two round trips."""
    t = load_tables(spark, sf_dir)
    promo = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    movers = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(promo, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    nat = t["nation"].filter(F.col("n_name") == "NATION_4").select("n_nationkey")
    return (
        t["supplier"]
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("s_suppkey")
    )


_Q21_ORACLE = """
SELECT s_suppkey, s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND n_name = 'NATION_2'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 10
"""


@register("q21_waiting_supplier", oracle=_Q21_ORACLE, tags=("join", "agg", "topk"))
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the hardest classic — EXISTS + NOT EXISTS self-joins
    on the fact table: suppliers who were the SOLE late shipper on finished
    multi-supplier orders. (Lateness = shipped >90 days after order date,
    standing in for the missing commit/receipt dates.)

    Plan: base = one nation's late lines on finished orders (nation pinned
    broadcast; supplier SF-proportional → AQE). The EXISTS becomes a
    left-semi self-join against
    (orderkey, suppkey) pairs; the NOT EXISTS a left-anti against the late
    subset of those pairs — the anti side carries o_orderdate via a fact-
    sized join, the one unavoidable shuffle. Both probes are column-pruned
    to 2-3 columns before shuffling; the final top-10 is
    TakeOrderedAndProject with s_suppkey as tie-break."""
    t = load_tables(spark, sf_dir)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    nat = t["nation"].filter(F.col("n_name") == "NATION_2").select("n_nationkey")
    orders_f = t["orders"].filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
    base = (
        li.join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_orderkey", "l_suppkey", "s_suppkey", "s_name")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    late_others = (
        li.join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .select(
            F.col("l_orderkey").alias("o3_orderkey"),
            F.col("l_suppkey").alias("o3_suppkey"),
        )
    )
    return (
        base.join(
            others,
            (F.col("o2_orderkey") == F.col("l_orderkey"))
            & (F.col("o2_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("o3_orderkey") == F.col("l_orderkey"))
            & (F.col("o3_suppkey") != F.col("l_suppkey")),
            "left_anti",
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(10)
    )
