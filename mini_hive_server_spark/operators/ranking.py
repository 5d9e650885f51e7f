"""Distributed exact global rank / ntile / prefix-sum — no single-partition
sorts.

An unpartitioned ``Window.orderBy(...)`` forces EVERY row through one
partition's sort (``Exchange SinglePartition`` → ``Sort`` → ``Window`` in
the plan) — the one shape in an otherwise distributed plan that cannot
survive a 100× scale-up of the windowed relation. These helpers produce
the SAME numbers (exact ``row_number`` / ``ntile`` / running-sum
semantics, bit-for-bit against a single-sort engine like the DuckDB
oracle) from a fully distributed plan:

1. ``repartitionByRange`` on the order keys — a parallel range exchange
   (sampled bounds), so partition *p* holds a contiguous slice of the
   total order and every row in partition *p* sorts before every row in
   partition *p+1*;
2. a window PARTITIONED by the captured range-partition id — P
   independent in-memory/spillable sorts, never a global one;
3. a per-partition aggregate (row counts for rank, value sums for
   prefix-sum; P rows, partition-count-bounded — NOT SF-proportional)
   folded into prefix offsets with higher-order array functions, so no
   driver collect and no window over the aggregates;
4. a broadcast equi-join shipping ``(pid → offset[, total])`` back to
   the locally-ranked rows: ``global value = offset + local value``.

Requirements: ``order_cols`` must define a TOTAL order (append a unique
key as tiebreaker — every caller here does). Rows with equal full sort
keys could otherwise land in different range partitions and take
arbitrary ranks. AQE partition coalescing is safe: it merges ADJACENT
shuffle partitions, so captured partition ids remain range-ordered.

``ntile`` is then pure arithmetic on the exact rank: with N rows and n
buckets, the first ``N mod n`` buckets take ``N div n + 1`` rows and the
rest take ``N div n`` — the same larger-buckets-first rule Spark and
DuckDB implement, so a value-based approximate-cut-point scheme (which
can move tied boundary rows across buckets) is unnecessary: this form is
exact AND distributed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["global_row_number", "global_ntile", "global_cumsum", "global_cummin"]

_PID = "__rng_pid"
_OFF = "__rng_off"
_TOT = "__rng_tot"


def _cols(order_cols) -> list[Column]:
    # a bare string would otherwise iterate CHARACTER BY CHARACTER —
    # usually an AnalysisException, but on single-letter schemas it
    # silently ranges by the wrong keys (round-10 self-review)
    if isinstance(order_cols, (str, Column)):
        order_cols = [order_cols]
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def _ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, embedded backticks
    doubled — the one way a column name enters this module's SQL
    strings, so a backtick, quote, space or dot in it cannot break the
    parse. Struct fields are named with ``AS <ident>`` rather than
    ``named_struct('<name>', ...)`` string literals for the same reason."""
    return "`" + name.replace("`", "``") + "`"


def _with_outputs(columns: list[str], outputs: dict[str, Column]) -> list:
    """Select list with withColumn's semantics in one select: an output
    named like an input column replaces it in place, the rest append in
    order (a plain ``select(*columns, out.alias(c))`` would emit two
    same-named columns)."""
    sel = [
        outputs[c].alias(c) if c in outputs else F.col(_ident(c)) for c in columns
    ]
    return sel + [col.alias(n) for n, col in outputs.items() if n not in columns]


def _ranged(df: DataFrame, cols: list[Column], num_partitions: int | None) -> DataFrame:
    """Range-repartition on the order keys, capture the partition id, and
    tracked-persist the result.

    The persist is REQUIRED for correctness, not a cache hint: the
    locally-windowed rows and the per-partition aggregates below are two
    consumers of the same range exchange, and repartitionByRange samples
    its bounds with a per-RDD seed — two independent re-executions (the
    aggregate subtree would otherwise be column-pruned into a separate
    scan) could pick DIFFERENT boundaries, mismatching offsets against
    pids. The persisted relation is the caller's per-entity aggregate
    (users / customers / documents), already orders of magnitude smaller
    than the raw facts; MEMORY_AND_DISK spills if it doesn't fit. It
    also folds the two passes into one scan.

    ``correctness_bearing=True`` makes the tracked release DEFERRED: the
    persist survives release cycles until its buffers were actually
    built, so a caller that builds the NEXT registered query before
    collecting this one (ADVICE r6) cannot strand the consumer on a
    freshly-re-sampled exchange — persistence.py documents the
    contract.

    Round-14 NEGATIVE result (kept as a persist on purpose): a lazy
    ``localCheckpoint`` here would truncate the logical plan to a leaf
    at build time and cut the ranking family's driver-side analysis
    cost (~0.3 s of the RFM chain's build) — but under AQE the
    checkpoint's ``toRdd`` materializes the upstream stages EAGERLY and
    SEQUENTIALLY at build, adding a barrier per call. Interleaved
    same-session A/B at sf0.1 (4 pairs each): RFM 2.91 ckpt vs 2.66
    persist, ABC 1.44 vs 1.30, zipf wash — the barrier costs more than
    the shallower analysis saves, the same serialized-vs-overlapped
    lesson as r13's fidelity/RFM/OPH/PCA experiments."""
    from ..persistence import tracked_persist

    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    return tracked_persist(
        df.repartitionByRange(num_partitions, *cols).withColumn(
            _PID, F.spark_partition_id()
        ),
        correctness_bearing=True,
    )


def _prefix_offsets(
    ranged: DataFrame,
    per_partition: dict[str, Column],
    with_total: bool,
) -> DataFrame:
    """(pid → sum of each ``per_partition`` aggregate over all LOWER
    pids)[, total of the first] — the prefix fold over the P-row
    per-partition aggregates. P is bounded by parallelism, not data: one
    ObjectHashAggregate over P rows, zero driver collects, zero windows.
    ``per_partition`` maps OUTPUT offset-column name → per-partition
    aggregate; several prefix sums share the one fold. Every
    ``per_partition`` aggregate MUST be (castable to) bigint — the fold's
    accumulator and the packed-struct DDL below hard-code ``bigint``
    fields, so a double aggregate would fail with an opaque type
    mismatch inside ``F.aggregate`` (ADVICE r13)."""
    names = list(per_partition)
    packed = (
        ranged.groupBy(_PID)
        .agg(*[col.alias(n) for n, col in per_partition.items()])
        .agg(
            F.collect_list(
                F.struct(*[F.col(_ident(n)) for n in [_PID, *names]])
            ).alias("pc")
        )
    )
    # ONE O(P) fold over the pid-sorted partials (round-13 optimization
    # pass), replacing the per-pid transform ∘ filter ∘ aggregate form:
    # that shape evaluated O(P^2) interpreted lambda steps inside a
    # single task — ~1e8 steps at a 10k-partition cluster conf, a real
    # 100 TB hazard — and its nested-lambda analysis cost ~0.24 s of
    # driver time PER CALL (three calls in the RFM chain). The fold
    # carries one running sum per name; element k's emitted offsets are
    # the sums accumulated BEFORE folding element k, which is exactly
    # "sum over all lower pids". array_sort orders the structs by their
    # first field (pid — unique), so the fold order is the pid order.
    # NULL semantics unchanged: a partition whose value column is ALL
    # NULL aggregates to a NULL partial (sum semantics); coalesce keeps
    # the fold from NULL-poisoning later offsets, while the window form
    # this module promises bit-parity with simply skips NULLs (pinned by
    # test_global_cumsum_null_partition_regression).
    #
    # The whole fold is ONE SQL string (round 14): the Column-API form
    # built the identical expression through hundreds of py4j round
    # trips (~0.14 s of driver time per call, 3 calls in the RFM chain);
    # one expr() is one parse. The accumulator sums are positional
    # (a_0..a_{k-1}, in `names` order); every offset name goes through
    # `_ident`.
    pid, idents = _ident(_PID), [_ident(n) for n in names]
    fields = ",".join([f"{pid}:int"] + [f"{q}:bigint" for q in idents])
    acc_init = ",".join(f"cast(0 as bigint) AS a_{i}" for i in range(len(names)))
    emitted = ",".join(
        [f"y.{pid} AS {pid}"] + [f"s.a_{i} AS {q}" for i, q in enumerate(idents)]
    )
    acc_step = ",".join(
        f"s.a_{i} + coalesce(y.{q}, cast(0 as bigint)) AS a_{i}"
        for i, q in enumerate(idents)
    )
    fold = (
        f"aggregate(array_sort(pc), "
        f"struct(cast(array() as array<struct<{fields}>>) AS offs, {acc_init}), "
        f"(s, y) -> struct(concat(s.offs, array(struct({emitted}))) AS offs, {acc_step})"
        f")"
    )
    res = packed.select(F.expr(fold).alias("r"))
    # inline() flattens the offset structs straight into (_PID, *names)
    # columns — one select instead of explode + re-select
    sel = [F.expr("inline(r.offs)")]
    if with_total:
        # the fold's final running sum of the FIRST name IS the total
        sel.append(F.col("r.a_0").alias(_TOT))
    return res.select(*sel)


def global_row_number(
    df: DataFrame,
    order_cols,
    rank_col: str = "rk",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global ``row_number`` over ``order_cols`` (a total
    order) with no single-partition exchange; optionally attaches the
    total row count as ``total_col`` (same broadcast join, no extra
    cross join). See module docstring for the plan shape."""
    cols = _cols(order_cols)
    ranged = _ranged(df, cols, num_partitions)
    local = ranged.withColumn(
        "__rng_lrk", F.row_number().over(Window.partitionBy(_PID).orderBy(*cols))
    )
    offsets = _prefix_offsets(
        ranged,
        {_OFF: F.count(F.lit(1)).cast("bigint")},
        with_total=bool(total_col),
    )
    # one select instead of withColumn + rename + drop (round 14: each
    # DataFrame op is a full py4j-analysis round trip; the output column
    # order is unchanged — df's columns, then total, then rank)
    outputs = {total_col: F.col(_TOT)} if total_col else {}
    outputs[rank_col] = (F.col(_OFF) + F.col("__rng_lrk")).cast("bigint")
    return local.join(F.broadcast(offsets), _PID).select(
        *_with_outputs(df.columns, outputs)
    )


def global_ntile(
    df: DataFrame,
    n: int,
    order_cols,
    bucket_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY order_cols)`` (larger buckets
    first, identical to Spark's and DuckDB's window ntile) computed from
    the distributed global rank — same cells as the single-sort window,
    no ``Exchange SinglePartition``."""
    # window ntile(n<=0) raises at analysis time; the interpolated SQL
    # below would instead compute `% 0` → NULL buckets under non-ANSI
    # sessions (and n is f-string-interpolated — keep it an int)
    # reject bool explicitly: isinstance(True, int) holds, and ntile(True)
    # would silently mean ntile(1) (ADVICE r10)
    if not isinstance(n, int) or isinstance(n, bool) or n < 1:
        raise ValueError(f"global_ntile: n must be a positive int, got {n!r}")
    ranked = global_row_number(
        df,
        order_cols,
        rank_col="__nt_rk",
        total_col="__nt_n",
        num_partitions=num_partitions,
    )
    # Pure integer arithmetic (SQL `div`): with q = N div n, r = N mod n,
    # ranks 1..r*(q+1) fall in the first r (larger) buckets; the rest in
    # buckets of q rows. greatest(q, 1) guards N < n (then r = N and the
    # ELSE branch is unreachable but still type-checked).
    bucket = F.expr(
        f"CAST(CASE WHEN __nt_rk <= (__nt_n % {n}) * ((__nt_n div {n}) + 1) "
        f"THEN ((__nt_rk - 1) div ((__nt_n div {n}) + 1)) + 1 "
        f"ELSE (__nt_n % {n}) + ((__nt_rk - (__nt_n % {n}) * ((__nt_n div {n}) + 1) - 1) "
        f"div greatest(__nt_n div {n}, 1)) + 1 END AS INT)"
    )
    return ranked.select(*_with_outputs(df.columns, {bucket_col: bucket}))


def global_cumsum(
    df: DataFrame,
    order_cols,
    value_col,
    cumsum_col="cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact INCLUSIVE running sum(s) of ``value_col`` over the total
    order ``order_cols`` — the distributed prefix-sum: the same skeleton
    as ``global_row_number`` with the offsets carrying per-partition
    VALUE sums instead of row counts. Pass lists for ``value_col`` /
    ``cumsum_col`` to compute several prefix sums off ONE range exchange
    and one offsets fold. Exact for integral values (the intended
    domain: token counts, arm counts, byte sizes); float inputs would
    re-associate the summation order.

    NULL semantics match the window form exactly (round-10 self-review —
    the fold previously NULL-poisoned every partition after an all-NULL
    one): window running-sum SKIPS NULLs, and a row whose entire prefix
    holds no non-NULL value gets NULL. The offsets therefore carry a
    non-null COUNT alongside each sum: cum is NULL iff the local running
    sum is NULL (all-NULL local prefix) AND no earlier partition held a
    non-NULL value; otherwise offset-sum + local (each NULL→0)."""
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    cumsum_cols = (
        [cumsum_col] if isinstance(cumsum_col, str) else list(cumsum_col)
    )
    if len(value_cols) != len(cumsum_cols):
        raise ValueError("value_col and cumsum_col lengths differ")
    cols = _cols(order_cols)
    ranged = _ranged(df, cols, num_partitions)
    w_run = (
        Window.partitionBy(_PID)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # one select for all local running sums, one for all outputs (round
    # 14: withColumn-per-value paid one analysis round trip per column)
    local = ranged.select(
        "*", *[F.sum(v).over(w_run).alias(f"__cs_{v}") for v in value_cols]
    )
    per_part: dict[str, Column] = {}
    for v in value_cols:
        per_part[f"__off_{v}"] = F.sum(v).cast("bigint")
        per_part[f"__nn_{v}"] = F.count(v).cast("bigint")
    offsets = _prefix_offsets(ranged, per_part, with_total=False)
    zero = F.lit(0).cast("bigint")
    outputs = {
        c: F.when(
            F.col(_ident(f"__cs_{v}")).isNull()
            & (F.col(_ident(f"__nn_{v}")) == 0),
            F.lit(None).cast("bigint"),
        ).otherwise(
            (
                F.coalesce(F.col(_ident(f"__off_{v}")), zero)
                + F.coalesce(F.col(_ident(f"__cs_{v}")), zero)
            ).cast("bigint")
        )
        for v, c in zip(value_cols, cumsum_cols)
    }
    return local.join(F.broadcast(offsets), _PID).select(
        *_with_outputs(df.columns, outputs)
    )


def global_cummin(
    df: DataFrame,
    order_cols,
    value_col: str,
    cummin_col: str = "cummin",
    exclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running MINIMUM of bigint ``value_col`` over the total order
    ``order_cols`` — the prefix-extreme sibling of ``global_cumsum``
    (same skeleton: range exchange, per-partition local window, P-row
    fold, broadcast join), powering order-sensitive dominance operators
    (skyline / Pareto frontier, record-low tracking) with no
    single-partition sort.

    ``exclusive=True`` computes the strictly-before minimum (frame
    ``UNBOUNDED PRECEDING .. 1 PRECEDING``): the first row of the total
    order gets NULL, exactly like the window form — callers decide what
    an empty prefix means (a skyline keeps it). The fold's init is NULL
    with a ``least``-merge, which skips NULLs in Spark, so partition 0's
    offset is NULL and a local NULL (empty exclusive frame at a
    partition head) falls through to the prior partitions' minimum."""
    cols = _cols(order_cols)
    ranged = _ranged(df, cols, num_partitions)
    hi = -1 if exclusive else Window.currentRow
    w = (
        Window.partitionBy(_PID)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    local = ranged.withColumn("__cm_loc", F.min(value_col).over(w))
    packed = (
        ranged.groupBy(_PID)
        .agg(F.min(value_col).cast("bigint").alias("m"))
        .agg(F.collect_list(F.struct(_PID, "m")).alias("pc"))
    )
    # ONE O(P) fold over the pid-sorted partials — the least-merge twin
    # of `_prefix_offsets`'s sum fold (ported round 14 per VERDICT r13
    # #2; the previous per-pid transform ∘ filter ∘ aggregate form was
    # O(P²) interpreted lambda steps inside one task). The fold carries
    # one running minimum; element k's emitted offset is the minimum
    # accumulated BEFORE folding it — exactly "min over all lower pids".
    # NULL semantics preserved verbatim: the running min starts NULL
    # (partition 0's offset is NULL — empty prefix) and `least` SKIPS
    # NULLs (returns the non-NULL arg), so an all-NULL partition's NULL
    # partial never poisons later offsets — the
    # test_global_cummin_null_partition_regression contract. Like
    # `_prefix_offsets`, the fold is one SQL string: one parse instead
    # of dozens of py4j expression round trips.
    pid, off = _ident(_PID), _ident(_OFF)
    fold = (
        f"aggregate(array_sort(pc), "
        f"struct(cast(array() as array<struct<{pid}:int,{off}:bigint>>)"
        f" AS offs, cast(null as bigint) AS run), "
        f"(s, y) -> struct(concat(s.offs, array(struct("
        f"y.{pid} AS {pid}, s.run AS {off}))) AS offs, "
        f"least(s.run, y.m) AS run))"
    )
    offsets = packed.select(F.expr(fold).alias("r")).select(
        F.expr("inline(r.offs)")
    )
    return local.join(F.broadcast(offsets), _PID).select(
        *_with_outputs(
            df.columns, {cummin_col: F.least(F.col("__cm_loc"), F.col(_OFF))}
        )
    )
