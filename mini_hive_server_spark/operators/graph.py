"""Graph algorithms expressed as relational dataflow.

Extension family (the reference has no graph surface; its nearest shape
is the activity feed, index.js:226-238). PageRank here runs on the
event-type transition graph — nodes are event types, edges the observed
prev→next transitions weighted by frequency (the same edge relation
`events_type_transitions` exposes). The node set is bounded by type
arity, but the DATAFLOW is the general one: each iteration is
rank ⋈ edges → groupBy(dst) → sum, i.e. one key-shuffled join + one
partial-agg'd aggregate per iteration, which is exactly how PageRank
scales on a billion-node graph (Pregel/GraphX reduce to the same join-
aggregate loop; iteration count bounds the number of shuffles). A fixed
iteration count keeps the whole computation ORACLE-EXPRESSIBLE as
unrolled CTEs — the convergence-test variant is the same loop with a
driver-side delta check.

Dangling mass (nodes with no out-edges) is dropped rather than
redistributed — the common simplification; both the DataFrame plan and
the oracle implement the same recurrence, so the check is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables, local_rows, session_memo, session_memos
from ..registry import register
from .behavior import TRANSITIONS_SQL, transition_counts

_DAMPING = 0.85
# the teleport numerator interpolated into the ORACLES as the Python
# float's exact repr: DuckDB evaluates (1 - 0.85) in DECIMAL (exact 0.15
# -> double 0.1499999999999999944) while every Spark path computes the
# Python float 1 - 0.85 = 0.15000000000000002 — a 2-ulp divergence that
# compounds per iteration (verified numerically); the repr keeps both
# engines on the same double
_TELEPORT_NUM = repr(1 - _DAMPING)


# the co-purchase edge relation's ORACLE preamble, shared by every graph
# oracle so the correctness anchor — DISTINCT projection, u < v
# orientation, min-support HAVING — is spelled once. The Spark twin is
# copurchase_edges.
def _edges_cte(materialized: bool = False, edges_name: str = "edges") -> str:
    m = " MATERIALIZED" if materialized else ""
    return f"""op AS{m} (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
{edges_name} AS{m} (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {{sup}}
)""".replace("{sup}", str(_TRI_MIN_SUPPORT))
_N_ITER = 3


def _transition_graph(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The event-type transition graph both PageRank variants run on:
    out-edge relation (src, dst, w) with per-src weights normalized to 1,
    and the node relation. One window (lag) + one partial-agg'd groupBy
    over events; everything downstream is node/edge cardinality."""
    raw_edges = transition_counts(events, "src", "dst")
    wsrc = Window.partitionBy("src")
    edges = raw_edges.select(
        "src",
        "dst",
        (
            F.col("n").cast("double")
            / F.sum("n").over(wsrc).cast("double")
        ).alias("w"),
    )
    nodes = events.select(F.col("event_type").alias("node")).distinct()
    return edges, nodes


def _pr_steps(last: int) -> str:
    """The oracles' unrolled PageRank rounds `pr1` .. `pr{last}`, each
    computed from the one before it: the twin of `_pr_step`."""
    return ",\n".join(
        f"""pr{k} AS (
  SELECT n.node,
         {_TELEPORT_NUM} / nn.n_nodes
           + {_DAMPING} * coalesce(sum(p.pr * e.w), 0) AS pr
  FROM nodes n CROSS JOIN nn
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN pr{k - 1} p ON p.node = e.src
  GROUP BY n.node, nn.n_nodes
)"""
        for k in range(1, last + 1)
    )


# the PageRank oracles' graph and start state: the transition graph
# `_transition_graph` builds, its node count, and uniform ranks `pr0`
_PR_GRAPH_SQL = f"""{TRANSITIONS_SQL},
edges AS (
  SELECT src, dst,
         CAST(n AS DOUBLE)
           / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE) AS w
  FROM transitions
),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT count(*) AS n_nodes FROM nodes),
pr0 AS (
  SELECT node, 1.0 / n_nodes AS pr FROM nodes, nn
)"""

_PAGERANK_ORACLE = f"""
WITH {_PR_GRAPH_SQL},
{_pr_steps(_N_ITER)}
SELECT node AS event_type, round(pr, 6) AS pagerank
FROM pr{_N_ITER}
ORDER BY event_type
"""


def _pr_step(
    pr: DataFrame, edges: DataFrame, nodes: DataFrame, teleport: "F.Column"
) -> DataFrame:
    """One PageRank round: every node's new rank is `teleport` plus the
    damped sum of rank flowing in along its in-edges (`pr` joined to the
    out-edge relation on src, summed per dst). `nodes` carries the node
    set and any column `teleport` reads; nodes without in-edges keep
    only the teleport term."""
    contrib = (
        pr.join(edges, pr["node"] == edges["src"])
        .groupBy("dst")
        .agg(F.sum(F.col("pr") * F.col("w")).alias("c"))
    )
    return nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
        "node",
        (teleport + _DAMPING * F.coalesce("c", F.lit(0.0))).alias("pr"),
    )


@register("graph_pagerank_3iter", oracle=_PAGERANK_ORACLE, tags=("graph", "iterative"))
def graph_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 unrolled iterations, damping 0.85) over the event-type
    transition graph. Each iteration is the canonical relational step:
    current ranks join the out-edge relation on src, contributions
    group-sum on dst, teleport added per node — so iteration count = #
    of (join + aggregate) rounds, the exact dataflow GraphX/Pregel run at
    billion-node scale. The edge build itself is one window (lag) + one
    partial-agg'd groupBy over events; edges and ranks are node/edge-
    cardinality relations from then on — event volume never re-enters.

    Float determinism: edge weights and teleport are single IEEE
    divisions (engine-identical); the per-dst contribution sums differ
    only in accumulation order (≤1e-15 relative), absorbed by the final
    round(…, 6)."""
    events = load_tables(spark, sf_dir)["events"]
    edges, nodes = _transition_graph(events)
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))

    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    for _ in range(_N_ITER):
        pr = _pr_step(
            pr,
            edges,
            nodes.crossJoin(F.broadcast(nn)),
            (1 - _DAMPING) / F.col("n_nodes"),
        )
    return pr.select(
        F.col("node").alias("event_type"), F.round("pr", 6).alias("pagerank")
    ).orderBy("event_type")


# ------------------------------------------- PageRank, iterate-until-ε

_PR_EPS = 1e-6
_PR_MAX_ITER = 64
_GOLDEN_ITER = 12


def _pagerank_golden_oracle() -> str:
    """Unrolled-CTE oracle for the fixed-depth golden run: recursive CTEs
    cannot host the per-iteration aggregate (group-sum of contributions),
    so the DuckDB replay unrolls all 12 steps programmatically — same
    recurrence as `_PAGERANK_ORACLE`, deeper."""
    last, prev = f"pr{_GOLDEN_ITER}", f"pr{_GOLDEN_ITER - 1}"
    return f"""
WITH {_PR_GRAPH_SQL},
{_pr_steps(_GOLDEN_ITER)},
res AS (
  SELECT max(abs(a.pr - b.pr)) < {_PR_EPS} AS converged
  FROM {last} a JOIN {prev} b ON a.node = b.node
)
SELECT a.node AS event_type, round(a.pr, 6) AS pagerank,
       CAST({_GOLDEN_ITER} AS INT) AS n_iterations,
       (SELECT converged FROM res) AS converged
FROM {last} a
ORDER BY event_type
"""


def _pagerank_converged_oracle() -> str:
    """Oracle for the ε-STOPPED loop: the 12-round golden unroll's VALUES
    (see `_pagerank_golden_oracle` below for the construction), emitting
    the converged query's (event_type, pagerank, converged) columns.

    Why a fixed unroll may stand in for a data-dependent stop:

    * contraction bound: stopping at max|Δpr| ≤ ε leaves the iterate
      within ε·d/(1−d) ≈ 5.7e-6 of the fixpoint, and each further round
      contracts the gap by d=0.85 — so the 12-round iterate is STRICTLY
      closer; |pr_stop − pr12| is bounded by the same ~5.7e-6 and
      MEASURED far smaller (≤ 8.5e-9 across sf0.001/0.01/0.1; the delta
      sequence decays ~80x per round on the fixture graphs, e.g. sf0.01:
      2.9e-5 → 3.5e-7, so the stop round itself cannot flip from
      distributed-accumulation noise, which is ~1e-13).
    * rounding safety: the golden values sit ≥ 4.6e-8 (sf0.001),
      1.1e-7 (sf0.01), 2.1e-7 (sf0.1) from the nearest round(…,6)
      boundary — 5-18x the measured iterate gap — so both engines round
      the two iterates to the SAME 6-decimal value; the margin is pinned
      by `tests/test_llm_ops.py::test_pagerank_converged_matches_golden_
      fixed_depth` (exact rounded equality + replayed boundary margin).
    """
    golden = _pagerank_golden_oracle()
    out = golden.replace(
        f"\n       CAST({_GOLDEN_ITER} AS INT) AS n_iterations,", ""
    )
    # string surgery on the golden template no-ops silently if
    # the SELECT line's formatting drifts, and the converged oracle would
    # then grow an extra column that only surfaces as a driver hash
    # mismatch. Fail at import time instead — with a raise, not an assert,
    # so the guard survives `python -O`.
    if "n_iterations" in out:
        raise RuntimeError(
            "golden SQL template drifted: n_iterations SELECT line not removed"
        )
    return out


@register(
    "graph_pagerank_converged",
    oracle=_pagerank_converged_oracle(),
    tags=("graph", "iterative"),
)
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank iterated to a FIXPOINT (max |Δpr| < 1e-6, capped at 64
    rounds) — the general iterative-dataflow pattern the fixed-depth twin
    (`graph_pagerank_3iter`, the oracle anchor) unrolls: a driver-side
    loop whose body is the same join-aggregate step, with a scalar delta
    check per round and `localCheckpoint` truncating lineage so round k's
    plan does not embed rounds 1..k-1 (without it Catalyst re-optimizes a
    plan that doubles per iteration). This is the shape iterate-until-
    convergence runs at billion-node scale: per round, one key-shuffled
    join + one partial-agg'd aggregate + one 1-row delta action; the
    driver touches only scalars, never data.

    Oracle: a data-dependent stopping rule cannot be expressed as a
    DuckDB query directly, but the contraction of the PageRank operator
    makes the 12-round golden unroll's VALUES a valid oracle for the
    ε-stopped iterate after round(…, 6) — see `_pagerank_converged_oracle`
    for the quantified bound and the measured rounding margins. The
    registered output therefore carries no iteration count (that IS
    data-dependent); `tests/test_llm_ops.py` additionally pins (a)
    agreement with an independently-iterated reference within the
    guaranteed ε·d/(1-d) stopping bound, (b) the fixpoint residual, and
    (c) rank-sum ≈ 1 conservation.

    Block lifecycle: edges/nodes are tracked-persisted (released at the
    next registered query). The iterates run on a `CheckpointChain` that
    keeps the last TWO node-cardinality blocks, because each round's
    delta action joins the new iterate against the previous one; the
    chain hands those two to the next release cycle on return (the
    returned DataFrame reads the last, and a truncated lineage cannot
    recompute) and drops them at once if the loop raises."""
    from ..persistence import CheckpointChain, tracked_persist

    events = load_tables(spark, sf_dir)["events"]
    edges, nodes = _transition_graph(events)
    edges = tracked_persist(edges)
    nodes = tracked_persist(nodes)
    n_nodes = nodes.count()  # scalar — the loop's only driver-side values
    if n_nodes == 0:
        # degrade like the fixed-depth twin: empty graph -> empty result
        # (the eager teleport division below would otherwise raise)
        return nodes.select(
            F.col("node").alias("event_type"),
            F.lit(0.0).alias("pagerank"),
            F.lit(True).alias("converged"),
        )
    teleport = (1.0 - _DAMPING) / n_nodes

    pr = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    n_iter, delta = 0, float("inf")
    with CheckpointChain(keep=2) as chain:
        while n_iter < _PR_MAX_ITER and delta > _PR_EPS:
            new_pr, _ = chain.step(
                _pr_step(pr, edges, nodes, F.lit(teleport))
            )
            delta = (
                new_pr.select("node", F.col("pr").alias("pr_new"))
                .join(pr.select("node", F.col("pr").alias("pr_old")), "node")
                .agg(F.max(F.abs(F.col("pr_new") - F.col("pr_old"))).alias("d"))
                .first()[0]
            ) or 0.0
            pr = new_pr
            n_iter += 1
    return pr.select(
        F.col("node").alias("event_type"),
        F.round("pr", 6).alias("pagerank"),
        F.lit(delta < _PR_EPS).alias("converged"),  # strict <, as the oracle spells it
    ).orderBy("event_type")


# ------------------------------------------- PageRank, golden fixed depth
# (_GOLDEN_ITER and _pagerank_golden_oracle are defined above the
# ε-stopped query, whose oracle derives from the same unroll)


@register(
    "graph_pagerank_golden",
    oracle=_pagerank_golden_oracle(),
    tags=("graph", "iterative"),
)
def graph_pagerank_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-paired GOLDEN twin of `graph_pagerank_converged`: the
    same driver-side iterative loop — per round one key-shuffled join +
    one partial-agg'd aggregate, `localCheckpoint` truncating lineage —
    but run to a FIXED, data-independent depth of 12 rounds, 3-4x past
    the fixture's measured ε-stop (3-4 rounds at every SF). Fixed depth
    makes the converged VALUES SQL-expressible again (a 12-step
    unrolled-CTE DuckDB replay); the same unroll (minus the iteration-
    count column) is the ε-stopped twin's own registered oracle, and
    `tests/test_llm_ops.py` pins the rounded ranks EQUAL plus a
    boundary-margin proof that the pairing is structurally safe.

    The output carries the same interface as the ε-stopped variant —
    `converged` here asserts the residual |pr12 − pr11| fell below the
    same ε IN the dataflow (computed by a node-cardinality join, crossed
    back as a broadcast 1-row), proving 12 rounds overshoot the
    fixpoint rather than assuming it.

    Block lifecycle: a `CheckpointChain` keeps the last TWO iterates'
    blocks, because the residual join reads both; on return the chain
    hands them to the next release cycle (the returned DataFrame reads
    them, and a truncated lineage cannot recompute)."""
    from ..persistence import CheckpointChain, tracked_persist

    events = load_tables(spark, sf_dir)["events"]
    edges, nodes = _transition_graph(events)
    edges = tracked_persist(edges)
    nodes = tracked_persist(nodes)
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))

    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    prev_pr = None
    with CheckpointChain(keep=2) as chain:
        for _ in range(_GOLDEN_ITER):
            new_pr, _ = chain.step(
                _pr_step(
                    pr,
                    edges,
                    nodes.crossJoin(F.broadcast(nn)),
                    (1 - _DAMPING) / F.col("n_nodes"),
                )
            )
            prev_pr, pr = pr, new_pr
    res = (
        pr.select("node", F.col("pr").alias("pr_new"))
        .join(prev_pr.select("node", F.col("pr").alias("pr_old")), "node")
        .agg(
            (
                F.max(F.abs(F.col("pr_new") - F.col("pr_old")))
                < F.lit(_PR_EPS)
            ).alias("converged")
        )
    )
    return (
        pr.crossJoin(F.broadcast(res))
        .select(
            F.col("node").alias("event_type"),
            F.round("pr", 6).alias("pagerank"),
            F.lit(_GOLDEN_ITER).cast("int").alias("n_iterations"),
            "converged",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------- triangle count

_TRI_MIN_SUPPORT = 2

_TRIANGLE_ORACLE = f"""
WITH {_edges_cte()},
nodes AS (
  SELECT u AS node FROM edges UNION SELECT v FROM edges
),
degs AS (
  SELECT node, count(*) AS deg
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT count(*) FROM nodes) AS n_nodes,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT CAST(coalesce(sum(deg * (deg - 1) / 2), 0) AS BIGINT) FROM degs)
         AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE, tags=("graph", "join"))
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph: nodes are parts,
    edges are part pairs co-ordered in >= 2 distinct orders (the support
    threshold keeps the edge relation ~collision-sized: at every SF the
    expected support-2 pair count stays near (pairs)^2 / 2 / C(|parts|,2),
    a few thousand — the same bounding argument `orders_market_basket`
    documents). Output is one summary row: nodes, edges, wedge count
    (sum deg-choose-2), triangle count.

    The dataflow is the standard distributed triangle enumeration: orient
    every edge low-id -> high-id so each triangle {{a<b<c}} is generated
    exactly once as wedge (a-b, b-c) closed by edge (a-c); wedges come
    from one self-join on the shared middle vertex and are closed by a
    second equi-join against the edge set. Edge orientation is the
    classic degree-ordering trick (by id here — support-thresholded
    degrees are near-uniform), which bounds the wedge explosion at scale;
    all joins are equi-joins on node ids — the registry-wide plan audit
    verifies no cartesian appears. The only corpus-sized pass is the
    DISTINCT (order, part) projection; everything after is edge-relation
    cardinality."""
    li = load_tables(spark, sf_dir)["lineitem"]
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _TRI_MIN_SUPPORT)
        .select("u", "v")
    )
    from ..persistence import tracked_persist

    edges = tracked_persist(edges)  # read 4x below (nodes, degs, wedge join x2)

    nodes = edges.select(F.col("u").alias("node")).union(
        edges.select(F.col("v").alias("node"))
    ).distinct()
    degs = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wedges = degs.agg(
        F.coalesce(
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2), F.lit(0)
        ).cast("bigint").alias("n_wedges")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
    )


# ------------------------------------------- recursive-CTE hierarchy closure

# Same recurrence, two integer-division dialects (DuckDB //, Spark div).
_HIERARCHY_ORACLE = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, ch.root, ch.depth + 1
  FROM customer c JOIN chain ch ON c.c_custkey // 10 = ch.node
  WHERE c.c_custkey >= 10
)
SELECT depth,
       count(*) AS n_nodes,
       count(DISTINCT root) AS n_roots,
       CAST(sum(node) AS BIGINT) AS key_sum
FROM chain
GROUP BY depth
ORDER BY depth
"""


@register("sql_recursive_hierarchy", oracle=_HIERARCHY_ORACLE, tags=("graph", "sql", "iterative"))
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive hierarchy closure via WITH RECURSIVE (Spark 4.0+ native
    recursive CTEs — the org-chart / BOM-explosion shape, run by the
    ENGINE's fixpoint operator rather than a hand-unrolled loop like
    `graph_pagerank_3iter`). The hierarchy is synthesized deterministically
    from the customer keys: parent(k) = k div 10, roots are keys < 10 —
    contiguous keys make every parent exist and bound the depth at
    ceil(log10(max key)), so termination is structural.

    Each recursive step is one equi-join of the frontier against the
    customer relation plus a union — the identical per-iteration dataflow
    the unrolled PageRank ships, but driven by the engine's recursion
    (at 100 TB each step is a key-shuffled join; depth, not data volume,
    bounds the iteration count). Output pins every node through per-depth
    key sums."""
    load_tables(spark, sf_dir)["customer"].createOrReplaceTempView(
        "customer_rcte_src"
    )
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
          FROM customer_rcte_src WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, ch.root, ch.depth + 1
          FROM customer_rcte_src c JOIN chain ch ON c.c_custkey div 10 = ch.node
          WHERE c.c_custkey >= 10
        )
        SELECT depth,
               count(*) AS n_nodes,
               count(DISTINCT root) AS n_roots,
               sum(node) AS key_sum
        FROM chain
        GROUP BY depth
        ORDER BY depth
        """
    )


# ------------------------------------------------- degree distribution

_DEGREE_ORACLE = f"""
WITH {_edges_cte()},
degs AS (
  SELECT node, count(*) AS deg
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
)
SELECT CAST(floor(log2(deg)) AS BIGINT) AS deg_bucket,
       count(*) AS n_nodes,
       CAST(min(deg) AS BIGINT) AS min_deg,
       CAST(max(deg) AS BIGINT) AS max_deg
FROM degs
GROUP BY 1
ORDER BY deg_bucket
"""


@register("graph_degree_distribution", oracle=_DEGREE_ORACLE, tags=("graph", "agg"))
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the part co-purchase graph
    (same support-2 edge relation as `graph_triangle_count`) — the first
    question asked of any graph before running algorithms on it: is the
    degree distribution flat (safe to partition by vertex) or power-law
    (the top hub will melt a reducer and the triangle/PageRank passes
    need the degree-ordering / salting treatments this engine already
    applies)?

    Plan: the shared shuffle-lean edge build (`_copurchase_edges`, round
    8 — one collect_set groupBy + map-side pair explode + pair count),
    then degree counting is one node-cardinality aggregate and the
    histogram is a dozen bucket rows."""
    edges = copurchase_edges(spark, sf_dir)  # session-scoped cached build
    degs = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        degs.groupBy(F.floor(F.log2("deg")).cast("bigint").alias("deg_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").cast("bigint").alias("min_deg"),
            F.max("deg").cast("bigint").alias("max_deg"),
        )
        .orderBy("deg_bucket")
    )


_SALTED_TOPK_ORACLE = f"""
WITH {_edges_cte()},
degs AS (
  SELECT node, count(*) AS degree
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
)
SELECT node, CAST(degree AS BIGINT) AS degree
FROM degs
ORDER BY degree DESC, node
LIMIT 20
"""

_DEG_SALT_BUCKETS = 16


@register(
    "graph_degree_salted_topk", oracle=_SALTED_TOPK_ORACLE, tags=("graph", "agg", "skew")
)
def graph_degree_salted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 hub nodes of the co-purchase graph by degree, computed with
    an EXPLICIT two-stage salted aggregation — the graph family's AQE-less
    skew twin. `graph_degree_distribution` relies on
    Spark's map-side partial aggregation to keep a power-law hub from
    melting one reducer; that safety evaporates whenever partial
    aggregation degrades (high-cardinality spill to sort-based fallback,
    or an agg rewritten over an expression partial-agg can't fold). This
    twin encodes the bound STRUCTURALLY, so it holds on any engine config:

    stage 1  groupBy(node, salt) — salt = xxhash64(neighbor) % 16, i.e.
             deterministic entropy from the edge's OTHER endpoint, so a
             hub's incident rows spread across exactly 16 reducer keys
             (rand() would also work but breaks task-retry determinism);
    stage 2  groupBy(node) over ≤16 partial rows per node — per-key
             reduce fan-in is now min(degree, 16) regardless of skew;
    top-k    orderBy(degree desc, node).limit(20) compiles to
             TakeOrderedAndProject (no global sort).

    At 100 TB the co-purchase hub problem is real (a part in every
    promotion basket has ~|orders| incident edges); the salted shape caps
    any single reduce task at |nodes|/shuffle-partitions × 16 rows. The
    oracle computes the same degrees unsalted — the salt assignment is
    correctness-invariant by construction, which is exactly what the
    driver's value-hash verifies."""
    edges = copurchase_edges(spark, sf_dir)  # session-scoped cached build
    ends = edges.select(F.col("u").alias("node"), F.col("v").alias("other")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("other"))
    )
    partial = ends.groupBy(
        "node",
        F.pmod(F.xxhash64("other"), F.lit(_DEG_SALT_BUCKETS)).alias("salt"),
    ).agg(F.count(F.lit(1)).alias("partial_deg"))
    return (
        partial.groupBy("node")
        .agg(F.sum("partial_deg").cast("bigint").alias("degree"))
        .orderBy(F.col("degree").desc(), "node")
        .limit(20)
    )


# ------------------------------------------------ multi-source BFS, 3 hops

_BFS_HOPS = 3

_BFS_ORACLE = f"""
WITH {_edges_cte()},
und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
nodes AS (SELECT DISTINCT u AS node FROM und),
d0 AS (SELECT node FROM nodes WHERE node % 10 = 0),
d1 AS (
  SELECT DISTINCT e.v AS node FROM d0 JOIN und e ON e.u = d0.node
  WHERE e.v NOT IN (SELECT node FROM d0)
),
d2 AS (
  SELECT DISTINCT e.v AS node FROM d1 JOIN und e ON e.u = d1.node
  WHERE e.v NOT IN (SELECT node FROM d0)
    AND e.v NOT IN (SELECT node FROM d1)
),
d3 AS (
  SELECT DISTINCT e.v AS node FROM d2 JOIN und e ON e.u = d2.node
  WHERE e.v NOT IN (SELECT node FROM d0)
    AND e.v NOT IN (SELECT node FROM d1)
    AND e.v NOT IN (SELECT node FROM d2)
),
census AS (
  SELECT 0 AS distance, count(*) AS n_nodes FROM d0
  UNION ALL SELECT 1, count(*) FROM d1
  UNION ALL SELECT 2, count(*) FROM d2
  UNION ALL SELECT 3, count(*) FROM d3
  UNION ALL
  SELECT -1, count(*) FROM nodes
  WHERE node NOT IN (SELECT node FROM d0)
    AND node NOT IN (SELECT node FROM d1)
    AND node NOT IN (SELECT node FROM d2)
    AND node NOT IN (SELECT node FROM d3)
)
SELECT CAST(distance AS INTEGER) AS distance,
       CAST(n_nodes AS BIGINT) AS n_nodes
FROM census
ORDER BY distance
"""


@register("graph_bfs_3hop", oracle=_BFS_ORACLE, tags=("graph", "iterative"))
def graph_bfs_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS to a fixed depth of 3 over the part co-purchase
    graph (sources: every tenth part id present in the graph) — the
    FRONTIER-EXPANSION iterative dataflow, the third member of the
    iterative family next to PageRank (per-round weighted SUM) and
    Lloyd k-means (per-round argmin): per hop, one equi-join of the
    current frontier against the undirected edge relation, a distinct,
    and an anti-join against the visited set — exactly Pregel's
    message-passing round expressed relationally. Output: nodes reached
    per distance, plus the unreachable census (distance -1) — the
    reachability profile a feature pipeline computes before trusting
    graph features.

    Scale shape: the edge relation is support-thresholded (collision-
    sized, see graph_triangle_count) and session-cached
    (`copurchase_edges`); each hop's joins key on node ids; frontier
    and visited sets only ever hold node ids.

    Execution: the census is SCALARS — one count per tier — so each hop
    localCheckpoints its frontier with the tier count OBSERVED by the
    checkpoint job (one job per hop, no separate actions), unreachable =
    |nodes| - Σ tier counts, and the census assembles from those
    scalars; the driver never touches node data. The measured history
    of this strategy is in SCALE.md's driver-run sections.

    Empty-tier semantics (the oracle's static census): an exhausted
    frontier yields observed n=0 — the (distance, 0) row is still
    emitted, which the old per-tier `agg(count)` form guaranteed and a
    groupBy over a unioned `visited` would have dropped."""
    edges = copurchase_edges(spark, sf_dir)  # session-scoped cached build
    return bfs_census(spark, edges)


def bfs_census(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """The per-hop checkpoint + observed-census BFS body of
    `graph_bfs_3hop`. Takes a directed (u, v) edge relation; symmetrizes,
    sources every tenth node, expands `_BFS_HOPS` tiers, and returns the
    (distance, n_nodes) census including the unreachable row (-1). Its
    scale curve on synthetic 100k/1M-node expander graphs is SCALE.md
    "Round-12: BFS scale curve"; the last numbers are the `bfs_expander_*`
    keys of the `experiments` block in BENCH_local_r14opt_final.json.

    Block lifecycle: a `CheckpointChain` keeps every tier's block while
    the hops run (the visited union reads them all) and drops them all
    when the loop ends, whether it returns or raises: the census is
    built from driver-side scalars and carries no lineage into them.

    The census is a one-partition literal relation (`catalog.local_rows`),
    so its sorted five rows come from one task of one JVM job. A
    Python-RDD DataFrame took three jobs for the same sort, two of them
    on Python workers (the range-bound sampling and the shuffle map)."""
    from ..persistence import CheckpointChain

    par = 2 * spark.sparkContext.defaultParallelism
    und = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).coalesce(par)
    n = F.count(F.lit(1)).alias("n")
    with CheckpointChain(keep=None, hand_off=False) as chain:
        # ONE checkpoint job for the node census AND the source tier: the
        # sources are a pure filter of the node set, so n_nodes and n0 ride
        # the same observe
        nodes, got = chain.step(
            und.select(F.col("u").alias("node")).distinct().coalesce(par),
            n,
            F.count_if((F.col("node") % 10) == 0).alias("n0"),
        )
        n_nodes = int(got["n"])
        frontier = visited = nodes.filter(F.col("node") % 10 == 0)
        counts = [int(got["n0"])]
        for _ in range(1, _BFS_HOPS + 1):
            frontier, got = chain.step(
                frontier.join(und, frontier["node"] == und["u"])
                .select(F.col("v").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .coalesce(par),
                n,
            )
            counts.append(int(got["n"]))
            visited = visited.unionByName(frontier)
        census = [(-1, n_nodes - sum(counts))] + list(enumerate(counts))
        return local_rows(spark, census, "distance int, n_nodes long").orderBy("distance")


# ---------------------------- connected components, large-star/small-star

_CC_MAX_ROUNDS = 64
# Per-task edge budget for the adaptive union-find pre-pass (see
# star_contraction_stars docstring point 1): ≤1M edges/chunk bounds the
# kernel's per-task Python memory — MEASURED:
# 94.3 MiB tracemalloc peak on the worst-case budget-sized chunk (a
# 1M-edge path graph — every node distinct, every node in the parent
# dict, full star output), i.e. the documented ~250 MB ceiling holds
# with 2.6x headroom; pinned by tests/test_llm_ops.py::
# test_prepass_kernel_memory_at_budget. The same order as any map
# task's maxPartitionBytes working set.
_PREPASS_EDGE_BUDGET = 1_000_000


_CC_ORACLE = f"""
WITH RECURSIVE {_edges_cte()},
und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
nodes AS (SELECT DISTINCT u AS node FROM und),
-- transitive closure restricted to (node, r) pairs with r <= node: the
-- component minimum m satisfies m <= w for every w on any path to it, so
-- every (v, m) tuple stays derivable under the restriction while the
-- materialized closure halves. UNION (not UNION ALL) dedups per step,
-- which is what terminates the fixpoint.
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.u AS node, rr.r
  FROM und e JOIN reach rr ON rr.node = e.v
  WHERE rr.r <= e.u
),
comp AS (SELECT node, min(r) AS label FROM reach GROUP BY node),
sizes AS (SELECT label, count(*) AS sz FROM comp GROUP BY label)
SELECT CAST(sz AS BIGINT) AS component_size,
       count(*) AS n_components,
       CAST(sum(label) AS BIGINT) AS min_label_sum
FROM sizes
GROUP BY sz
ORDER BY component_size
"""


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Support-thresholded co-purchase pair relation (u < v, appearing in
    >= _TRI_MIN_SUPPORT orders) built SHUFFLE-LEAN: one
    groupBy(l_orderkey) with collect_set — bounded by order WIDTH (max 7
    parts/order in the fixtures, O(order size) generally), never a data
    axis — ordered pairs generated map-side from the sorted array, then
    one partial-agg'd pair count. Two shuffles total versus the
    self-join formulation's three (distinct + reused-exchange join +
    pair groupBy) and no join build; measured ~1.5x faster at sf0.1.
    Used by the CONVERGED iterative queries (connected components,
    k-core), where the build dominated end-to-end latency;
    `graph_triangle_count` keeps the explicit self-join as the
    classic formulation demo."""
    # EXPLICIT conf-width exchange ("synthetic partitioning"): left to
    # ENSURE_REQUIREMENTS, AQE's byte-based coalescing ran this stage in 3-4 tasks at sf0.1
    # (event-log profile: 0.59 s of the ~1.05 s build) — but the stage is
    # COMPUTE-dense, not byte-dense: it builds per-order sets and then
    # explodes the QUADRATIC per-order pair expansion, so its output
    # volume far exceeds its input bytes, the exact case where byte-based
    # coalescing under-provisions. An explicit numPartitions exchange is
    # AQE-coalescing-exempt; width = the session's shuffle-partition conf
    # (scales with the cluster, honors the driver's lower-core runs).
    # Measured at sf0.1 (BFS/CC/k-core each pay this build once per
    # invocation): the agg job 0.59-0.84 s -> ~0.37 s, and end-to-end
    # BFS 3.88 -> 2.56, CC 3.01 -> 2.12, k-core 2.77 -> 1.79 (medians
    # under bench's clearCache-between-reps protocol).
    par = int(
        li.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    arrs = li.repartition(par, "l_orderkey").groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = arrs.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps) - i - 1), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    return (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _TRI_MIN_SUPPORT)
        .select("u", "v")
    )


# --- session-scoped edge-build cache ----------------------------------------
#
# Five registered queries (degree distribution, BFS, CC, label propagation,
# k-core) consume the SAME co-purchase edge relation; built per query it
# cost ~3.9 s of the ~4 s build at sf0.1 (SCALE.md §"Graph-family
# edge-build cache"). The result is tiny (3,573 rows / ~57 KB at sf0.1:
# support-thresholding caps it near the part-catalog axis, not the
# lineitem axis), so one persisted copy per (session, sf_dir), held in the
# session's memo (`catalog.session_memo`), is the right trade at every
# scale.
#
# Lifetime rules (why this is NOT tracked_persist):
# * `persist()` with INTACT lineage, never localCheckpoint — if anything
#   evicts or clears the blocks (bench.py and tests call
#   `spark.catalog.clearCache()` between reps), the next consumer silently
#   recomputes instead of failing on truncated lineage.
# * deliberately OUTSIDE persistence.py's per-query release cycle —
#   tracked blocks die when the next registered query starts, which is
#   exactly the boundary this cache must survive.
# * bounded: ≤ _EDGE_CACHE_MAX sf_dirs per session, LRU-evicted with an
#   explicit unpersist; one entry is ~57 KB at sf0.1 and grows with the
#   PART catalog (dim-like), not the fact table.
# * REBUILD-FRESH invalidation (measured): when an external clearCache
#   drops the blocks, do NOT re-persist the stale captured DataFrame —
#   re-marking the frozen plan made BFS reps 2x slower (9.4-11.2 s vs
#   4.6-5.3 s at sf0.1 under bench's clearCache-between-reps regime);
#   building a FRESH plan restores the baseline (4.6-5.2 s) because AQE
#   re-plans the build instead of re-executing the first
#   materialization's frozen physical plan. No pre-persist coalesce
#   either: a forced coalesce(8) measured ~0.5 s slower on the rebuild
#   path for no warm-path gain.
_EDGE_CACHE_MAX = 2


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped cached wrapper around `_copurchase_edges`: one
    persisted build per (session, sf_dir), shared by the five
    graph-family consumers; a fresh plan is rebuilt after an external
    clearCache, and the least recently used sf_dir is evicted past the
    bound (see the cache-design comment above)."""
    from pyspark.storagelevel import StorageLevel

    memo = session_memo(spark, "copurchase_edges")
    # popped and re-inserted so the dict's insertion order is recency order
    hit = memo.pop(sf_dir, None)
    if hit is not None and hit.storageLevel != StorageLevel.NONE:
        memo[sf_dir] = hit
        return hit
    li = load_tables(spark, sf_dir)["lineitem"]
    edges = _copurchase_edges(li).persist(StorageLevel.MEMORY_AND_DISK)
    if len(memo) >= _EDGE_CACHE_MAX:
        try:
            memo.pop(next(iter(memo))).unpersist()
        except Exception:
            pass
    memo[sf_dir] = edges
    return edges


def clear_copurchase_cache() -> None:
    """Explicit invalidation: unpersist and forget every live session's
    cached edge relations (tests use this to measure cold-vs-warm
    builds)."""
    for memo in session_memos("copurchase_edges"):
        for df in memo.values():
            try:
                df.unpersist()
            except Exception:
                pass
        memo.clear()


@register(
    "graph_connected_components", oracle=_CC_ORACLE, tags=("graph", "iterative")
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the part co-purchase graph via alternating
    LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC 2014) — the primitive that turns any
    pairwise-duplicate relation (MinHash/LSH candidate pairs, entity-
    resolution matches) into cluster ids at scale. Unlike plain min-label
    propagation (rounds = graph DIAMETER — unbounded on chain-shaped
    near-dup clusters), star contraction converges in O(log n) rounds:
    each round is two (groupBy-min + equi-join + distinct) passes over an
    edge relation that only ever shrinks toward one star per component.

    A CONVERGED iterative query with a full value oracle and no extra
    argument: a data-dependent stopping rule needs
    `graph_pagerank_converged`'s contraction-bound pairing (an ε-stopped
    FLOAT fixpoint is
    path-dependent), but CC's fixpoint is EXACT — however many rounds the
    loop takes, the converged labels equal the transitive-closure minimum,
    which DuckDB computes independently via a recursive CTE (restricted to
    r <= node tuples; see the oracle comment). Convergence is detected by
    an edge-set checksum (count + xor-fold of xxhash64(a,b)) going stable — one
    2-scalar action per round, the same driver-touches-only-scalars
    contract as PageRank.

    Output pins the assignment, not just the shape: per component-size
    bucket, the number of components AND the sum of their min-labels.

    Block lifecycle lives in `star_contraction_stars`. The expensive
    part — the co-purchase edge BUILD — runs exactly ONCE
    (`_copurchase_edges`, two shuffles, no join; the loop's entry
    checkpoint pins it) instead of being re-derived by the first round,
    the node census, and the label join-back."""
    stars = star_contraction_stars(copurchase_edges(spark, sf_dir))
    # one star per component: size = child count + 1 (the root itself);
    # min-label = the root. One exchange on the root key, no label union.
    sizes = stars.groupBy(F.col("b").alias("label")).agg(
        (F.count(F.lit(1)) + 1).alias("sz")
    )
    return (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.sum("label").cast("bigint").alias("min_label_sum"),
        )
        .select(
            F.col("sz").cast("bigint").alias("component_size"),
            "n_components",
            "min_label_sum",
        )
        .orderBy("component_size")
    )


def _local_contract(canon_edges: DataFrame) -> DataFrame:
    """Partition-LOCAL union-find pre-pass (the "local contraction" step
    of Kiveris et al. 2014 §6): within each input partition, collapse its
    edges to stars on the partition-local component minimum. NO shuffle —
    one Arrow-batched mapInPandas stage over whatever partitioning the
    edges arrive in. Correctness does not depend on the layout: the union
    over partitions of the emitted (node → local-min) star edges
    preserves global connectivity exactly, because a node captured by two
    partitions bridges them just as its original edges did. The layout
    only decides how MUCH contracts — contiguously-generated chains (the
    adversarial path case) collapse to one star per partition, so the
    global rounds start from diameter ≈ #partitions instead of #nodes.

    Input must already be canonically oriented (a > b, no self-loops);
    output keeps that orientation (local min is always the smaller
    endpoint) and drops root self-stars. Union-find is path-halving +
    union-by-min, linear in partition edge count; memory is one dict
    entry per distinct node in the partition — bounded by
    maxPartitionBytes, the same budget any map task already has."""
    a_type, b_type = dict(canon_edges.dtypes)["a"], dict(canon_edges.dtypes)["b"]

    def contract(batches):
        import pandas as pd

        out_a, out_b = _unionfind_stars(
            (x, y) for pdf in batches for x, y in zip(pdf["a"], pdf["b"])
        )
        if out_a:  # empty partition: yield nothing (object-dtype trap)
            yield pd.DataFrame({"a": out_a, "b": out_b})

    return canon_edges.mapInPandas(contract, schema=f"a {a_type}, b {b_type}")


def _unionfind_stars(pairs) -> tuple[list, list]:
    """The pre-pass kernel's union-find core, module-level so the memory
    budget is TESTABLE against the exact production code: path-halving
    find + union-by-min over an iterable of canonically-oriented (a, b)
    pairs; returns the (node, local-min-root) star lists with root
    self-stars dropped. Memory is one `parent` dict entry per distinct
    node — the bound `_PREPASS_EDGE_BUDGET` is sized against:
    tests/test_llm_ops.py::test_prepass_kernel_memory_at_budget runs it
    on a worst-case budget-sized chunk (a path graph: every node
    distinct, every node enters the dict) under tracemalloc and pins
    the measured peak under the documented ceiling."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for x, y in pairs:
        rx, ry = find(x), find(y)
        if rx != ry:
            if ry < rx:
                rx, ry = ry, rx
            parent[ry] = rx  # union by min: root stays the minimum
    out_a: list = []
    out_b: list = []
    for x in list(parent):
        r = find(x)
        if x != r:
            out_a.append(x)
            out_b.append(r)
    return out_a, out_b


def star_contraction_stars(edges: DataFrame) -> DataFrame:
    """Run alternating large-star/small-star to convergence over an edge
    relation (columns `u`, `v`; direction and self-loops irrelevant) and
    return the converged STAR set (a, b): one star per component, every
    non-min node appearing exactly once as `a` pointing at its component
    minimum `b`. `star_contraction_labels` derives the (node, label) map
    from it; `graph_connected_components` reads the stars directly (a
    component's size is its child count + 1 — one exchange fewer than
    going through labels). Property-tested against union-find on
    synthetic path/star/random graphs in tests/test_llm_ops.py. The
    path-graph round-growth curve is in SCALE.md (the `cc_path_*` keys
    of the `experiments` block in BENCH_local_r14opt_final.json).

    Three structural choices keep each round's constant low:

    1. A partition-local union-find PRE-PASS (`_local_contract`, map-only,
       before the dedup shuffle so it sees the generator's natural edge
       locality) collapses whatever each partition can prove connected —
       the adversarial path graph enters the global loop with diameter
       ≈ #partitions instead of #nodes. The pre-pass partitioning is
       ADAPTIVE: the input coalesces to
       ceil(|E| / 1M) partitions (never more than it already has), so a
       graph whose edge relation fits one bounded chunk is solved
       OUTRIGHT by the local union-find and the global loop only
       confirms the fixpoint (one round). The budget bounds per-task
       memory exactly like maxPartitionBytes bounds any map task (the
       kernel holds one dict entry per distinct node in its chunk,
       ≤ ~250 MB at the 1M-edge budget), so at 100 TB the rule degrades
       gracefully to many bounded chunks, maximal local contraction,
       and O(log n) global rounds over what remains.
       Measured: sf0.1 co-purchase graph 4 rounds / ~4.0 s → 2 rounds /
       ~1.8 s warm; adversarial 300k-edge path 6 rounds / 10-11.4 s →
       2 rounds / 5.2 s, exact labels everywhere. The |E| count comes
       from one count() on the (usually persisted) input — for the
       session-cached co-purchase edges it doubles as the cache
       materialization the first round needs anyway.
    2. The large-star step exploits the canonical a > b orientation:
       m(u) = min(N(u) ∪ {u}) can only come from u's SMALLER neighbors,
       so one groupBy("a").min("b") replaces the both-directions union
       (halves the shuffled volume), and large-star's output is exactly
       one row (a, m(b)) per edge — no intermediate distinct.
    3. The convergence signature (edge count + xor-fold of edge hashes)
       rides the checkpoint job via `df.observe` instead of a second
       action — ONE job per round, and the driver still touches only
       scalars. The entry checkpoint observes the same signature, so a
       pre-pass output that is already the fixpoint stops after one
       round.

    Block lifecycle: the entry checkpoint and every round run on one
    `CheckpointChain(keep=1)`: each round's block replaces the previous
    one as soon as it is materialized, the last block joins the next
    release cycle on return (the returned stars read it), and every
    block is dropped at once if the loop raises, non-convergence
    included.
    """
    from ..persistence import CheckpointChain

    # canonical big->small orientation (map-only, keeps input locality for
    # the pre-pass); the star rounds preserve it
    canon = edges.filter(F.col("u") != F.col("v")).select(
        F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
    )
    # adaptive pre-pass width (docstring point 1): bounded chunks, as few
    # as the budget allows; coalesce never increases partition count, so
    # an already-wider-than-needed input is left alone
    n_edges = edges.count()
    prepass_parts = max(1, -(-n_edges // _PREPASS_EDGE_BUDGET))

    def _star_round(rel: DataFrame) -> DataFrame:
        # large-star: around every node u, attach all LARGER neighbors to
        # m(u) = min(N(u) ∪ {u}). With a > b kept canonical, m(u) is
        # min(u, min{b : (a=u, b)}) — one groupBy — and the larger
        # neighbors of u are exactly the a-sides of (a, b=u) edges, so
        # large-star emits one (a, m(b)) row per input edge.
        mins = rel.groupBy("a").agg(F.min("b").alias("mn"))
        ls = rel.join(
            mins.select(F.col("a").alias("b"), "mn"), "b", "left"
        ).select("a", F.coalesce("mn", "b").alias("b"))
        # small-star: group by the larger endpoint a, attach a and all its
        # smaller neighbors to m = min of those neighbors.
        sm = ls.groupBy("a").agg(F.min("b").alias("m"))
        return (
            sm.select("a", F.col("m").alias("b"))
            .union(
                ls.join(sm, "a")
                .filter(F.col("b") != F.col("m"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
            )
            .distinct()
        )

    # xor-fold of per-edge hashes: order-insensitive and immune to the
    # long overflow an ANSI-mode sum() of 2^63-range hashes hits
    sig = (
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("a", "b")).alias("h"),
    )
    with CheckpointChain(keep=1) as chain:
        # entry checkpoint: the upstream edge BUILD (often the expensive
        # part — e.g. the co-purchase pair aggregation) runs exactly once;
        # the first round reads these blocks
        cur, got = chain.step(
            _local_contract(canon.coalesce(prepass_parts)).distinct(), *sig
        )
        prev_sig = (got["n"], got["h"])
        for _ in range(_CC_MAX_ROUNDS):
            # one star round per checkpoint (measured: fusing two rounds
            # per checkpoint ran ~60% SLOWER — the deeper lineage defeats
            # exchange reuse and adds an overshoot round)
            cur, got = chain.step(_star_round(cur), *sig)
            if (got["n"], got["h"]) == prev_sig:
                break
            prev_sig = (got["n"], got["h"])
        else:
            raise RuntimeError(
                f"large-star/small-star did not converge in "
                f"{_CC_MAX_ROUNDS} rounds"
            )
    return cur


def star_contraction_labels(edges: DataFrame) -> DataFrame:
    """(node, label) component assignment, label = component minimum —
    the general-purpose face of `star_contraction_stars`. At convergence
    the star set alone determines the labels: children label as their
    root, roots (distinct b) label as themselves — no node-census
    anti-join needed, and every original node is covered because
    edge-derived node sets have no isolated members."""
    cur = star_contraction_stars(edges)
    return cur.select(F.col("a").alias("node"), F.col("b").alias("label")).unionAll(
        cur.select(F.col("b").alias("label"))
        .distinct()
        .select(F.col("label").alias("node"), "label")
    )


# ------------------------------------------- label propagation, 2 rounds

_LP_ROUNDS = 2


def _lp_oracle() -> str:
    rounds = ",".join(
        f"""
c{k} AS (
  SELECT e.u AS node, l.label, count(*) AS c
  FROM und e JOIN l{k - 1} l ON l.node = e.v
  GROUP BY 1, 2
),
l{k} AS (
  SELECT node, label FROM c{k}
  QUALIFY row_number() OVER (PARTITION BY node
                             ORDER BY c DESC, label) = 1
)"""
        for k in range(1, _LP_ROUNDS + 1)
    )
    return f"""
WITH {_edges_cte()},
und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
nodes AS (SELECT DISTINCT u AS node FROM und),
l0 AS (SELECT node, node AS label FROM nodes),{rounds}
SELECT CAST(sz AS BIGINT) AS community_size,
       count(*) AS n_communities
FROM (
  SELECT label, count(*) AS sz FROM l{_LP_ROUNDS} GROUP BY label
)
GROUP BY sz
ORDER BY community_size
"""


@register("graph_label_propagation", oracle=_lp_oracle(), tags=("graph", "iterative"))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (2 rounds, Raghavan et al. 2007)
    over the part co-purchase graph — the community-detection member of
    the iterative family, whose per-round reduction is an ARGMAX VOTE
    (most frequent neighbor label, smallest-label tiebreak) where
    PageRank's is a weighted sum and BFS's a frontier union. Every node
    starts as its own label; per round, one equi-join of the undirected
    edge relation against the current labeling, one (node, label) count
    aggregate, and one per-node argmax window (hash-partitioned by
    node — never global). Output: the community-size histogram after
    the second round — deterministic because the vote tiebreak is total.

    Scale shape: the edge relation is support-thresholded and persisted
    once (same bound as graph_triangle_count); rounds are statically
    unrolled into one lazy plan; all movement keys on node ids. The
    synchronous variant is the one that parallelizes — asynchronous LP
    is inherently sequential."""
    from ..persistence import tracked_persist

    edges = copurchase_edges(spark, sf_dir)  # session-scoped cached build
    und = tracked_persist(
        edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        # coalesce before caching: cached plans are exempt from AQE
        # coalescing, and this support-bounded relation feeds both
        # unrolled rounds (see graph_bfs_3hop's rationale)
        ).coalesce(2 * spark.sparkContext.defaultParallelism)
    )
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), "label")
    for _ in range(_LP_ROUNDS):
        votes = (
            und.join(labels, und["v"] == labels["node"])
            .select(F.col("u").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_communities"))
        .select(
            F.col("sz").cast("long").alias("community_size"), "n_communities"
        )
        .orderBy("community_size")
    )


# ----------------------------------------------------- k-core decomposition

_KCORE_K = 3
_KCORE_MAX_ROUNDS = 64


def _kcore_oracle() -> str:
    """Unrolled peel rounds: each round drops nodes of degree < K and the
    edges touching them. Peeling is MONOTONE (the edge set only shrinks),
    so once the fixpoint is reached every further unrolled round is the
    identity — unrolling `_KCORE_MAX_ROUNDS` rounds therefore EQUALS the
    converged core whenever the query itself converges within its own
    cap (and the query raises otherwise), and the emitted
    `min_core_degree` proves it IN the result (>= K, or 0 for an empty
    core) rather than assuming it.

    Every multiply-referenced CTE is `AS MATERIALIZED`: DuckDB inlines
    plain CTEs, and each round references the previous one 3×, so
    inlined rounds would expand the lineitem scan 4^rounds times —
    observed as an FD-exhaustion IOException before any row is produced.
    Materializing each round keeps the oracle linear (~0.5 s at
    sf0.01)."""
    rounds = ",".join(
        f"""
d{k} AS MATERIALIZED (
  SELECT node, count(*) AS deg
  FROM (SELECT u AS node FROM e{k - 1} UNION ALL SELECT v FROM e{k - 1})
  GROUP BY node
),
e{k} AS MATERIALIZED (
  SELECT u, v FROM e{k - 1}
  WHERE u IN (SELECT node FROM d{k} WHERE deg >= {_KCORE_K})
    AND v IN (SELECT node FROM d{k} WHERE deg >= {_KCORE_K})
)"""
        for k in range(1, _KCORE_MAX_ROUNDS + 1)
    )
    last = f"e{_KCORE_MAX_ROUNDS}"
    return f"""
WITH {_edges_cte(materialized=True, edges_name='e0')},{rounds},
core_nodes AS (SELECT DISTINCT u AS node FROM {last} UNION SELECT v FROM {last}),
core_degs AS (
  SELECT node, count(*) AS deg
  FROM (SELECT u AS node FROM {last} UNION ALL SELECT v FROM {last})
  GROUP BY node
)
SELECT CAST({_KCORE_K} AS INTEGER) AS k,
       (SELECT count(*) FROM core_nodes) AS n_core_nodes,
       (SELECT count(*) FROM {last}) AS n_core_edges,
       (SELECT CAST(coalesce(sum(node), 0) AS BIGINT) FROM core_nodes)
         AS node_id_sum,
       (SELECT CAST(coalesce(min(deg), 0) AS BIGINT) FROM core_degs)
         AS min_core_degree
"""


def kcore_peel(edges: DataFrame, k: int = _KCORE_K) -> DataFrame:
    """Converged k-core edge set of an undirected graph given as one row
    per canonical edge (u < v, deduplicated): repeat {degree count, drop
    nodes with deg < k and the edges touching them} until the edge count
    stops shrinking. Factored out of `graph_kcore_decomposition` so the
    peel can be property-tested on synthetic shapes against a
    brute-force driver-side peel (the `star_contraction_labels`
    pattern). Per round: one node-cardinality degree aggregate + two
    node-keyed semi-joins over a monotonically shrinking edge relation;
    localCheckpoint truncates lineage so round r's plan does not embed
    rounds 1..r-1. The surviving-edge count rides each checkpoint job
    via `df.observe`, the entry checkpoint's included — ONE job per
    round, no separate count() action.

    Block lifecycle: the entry checkpoint and every round run on one
    `CheckpointChain(keep=1)`, so one round's blocks are live at a time;
    the returned DataFrame is the last checkpoint, whose blocks join the
    next release cycle, and every block is dropped at once if the loop
    raises, non-convergence included."""
    from ..persistence import CheckpointChain

    n = F.count(F.lit(1)).alias("n")
    with CheckpointChain(keep=1) as chain:
        cur, got = chain.step(edges.select("u", "v"), n)
        prev_n = got["n"]
        for _ in range(_KCORE_MAX_ROUNDS):
            und = cur.select(F.col("u").alias("node")).unionAll(
                cur.select(F.col("v").alias("node"))
            )
            keep = (
                und.groupBy("node")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
                .select("node")
            )
            cur, got = chain.step(
                cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
                .select("u", "v"),
                n,
            )
            # monotone shrink => an unchanged count is a fixpoint certificate
            if got["n"] == prev_n:
                break
            prev_n = got["n"]
        else:
            raise RuntimeError(
                f"k-core peel did not converge in {_KCORE_MAX_ROUNDS} rounds"
            )
    return cur


@register("graph_kcore_decomposition", oracle=_kcore_oracle(), tags=("graph", "iterative"))
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-core of the part co-purchase graph via iterative peeling
    (Matula & Beck 1983 distributed-relationally): repeat {compute
    degrees, drop nodes with deg < 3 and their edges} until the edge set
    stops shrinking — the densest-substructure primitive feature
    pipelines run before trusting graph features (a node's coreness is a
    more robust centrality than raw degree). Fourth member of the
    iterative family: PageRank reduces a weighted SUM per round, BFS a
    frontier UNION, label propagation an argmax VOTE — peeling reduces a
    degree FILTER whose survivors feed the next round.

    Like `graph_connected_components`, the fixpoint is EXACT (set-valued,
    no ε), so a converged driver-side loop still carries a full value
    oracle: peeling is monotone, so a DuckDB replay unrolled to the
    loop's own round cap equals the fixpoint whenever the loop converges
    (the emitted `min_core_degree >= k` PROVES convergence in the result
    row — 0 marks the legitimately empty core, which the sf0.1 fixture
    produces). Convergence detection is one observed count per round —
    monotone shrink makes an unchanged edge count a fixpoint
    certificate, no checksum needed.

    Scale shape: per round one node-cardinality degree aggregate + two
    semi-joins keyed on node ids over an edge relation that only ever
    shrinks; the support threshold bounds the initial edge relation
    (graph_triangle_count's argument); lineage/block lifecycle lives in
    `kcore_peel`."""
    cur = kcore_peel(copurchase_edges(spark, sf_dir), _KCORE_K)

    core_nodes = (
        cur.select(F.col("u").alias("node"))
        .union(cur.select(F.col("v").alias("node")))
        .distinct()
    )
    core_degs = (
        cur.select(F.col("u").alias("node"))
        .unionAll(cur.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    stats_nodes = core_nodes.agg(
        F.count(F.lit(1)).alias("n_core_nodes"),
        F.coalesce(F.sum("node"), F.lit(0)).cast("bigint").alias("node_id_sum"),
    )
    stats_edges = cur.agg(F.count(F.lit(1)).alias("n_core_edges"))
    stats_deg = core_degs.agg(
        F.coalesce(F.min("deg"), F.lit(0)).cast("bigint").alias("min_core_degree")
    )
    return (
        stats_nodes.crossJoin(F.broadcast(stats_edges))
        .crossJoin(F.broadcast(stats_deg))
        .select(
            F.lit(_KCORE_K).cast("int").alias("k"),
            "n_core_nodes",
            "n_core_edges",
            "node_id_sum",
            "min_core_degree",
        )
    )
