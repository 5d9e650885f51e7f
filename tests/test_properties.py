"""Property-based invariants (hypothesis): the oracle gate checks fixed
fixtures; these check algebraic properties on generated data — the cases
a fixture never contains (all-null groups, hot keys, empty relations).

Examples are kept small and few: each runs real Spark jobs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key in small range → collisions guaranteed; value; value may be null)
_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),
    ),
    min_size=0,
    max_size=30,
)


@given(rows=_rows)
@_settings
def test_salted_agg_equals_direct(spark, rows):
    """groupBy((key, salt)) then merge must equal the direct groupBy for
    counts and integer sums, for any distribution including hot keys."""
    if not rows:
        return
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k int, v int"
    )
    direct = {
        (r.k): (r.n, r.s)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = (
        df.withColumn("salt", (F.col("id") % 4).cast("int"))
        .groupBy("k", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("v").alias("pv"))
        .groupBy("k")
        .agg(F.sum("pn").alias("n"), F.sum("pv").alias("s"))
    )
    merged = {(r.k): (r.n, r.s) for r in salted.collect()}
    assert merged == direct


@given(rows=_rows)
@_settings
def test_ne_null_safe_matches_mongo_semantics(spark, rows):
    """MongoDB's `$ne: x` matches documents where the field is missing or
    null; Spark's `!=` rejects nulls. The engine's null-safe pattern
    `(col != x) | col.isNull()` must equal the Mongo model on any data."""
    df = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(rows)], "id long, v int"
    )
    target = 0
    expect = {i for i, (_, v) in enumerate(rows) if v is None or v != target}
    got = {
        r.id
        for r in df.filter(
            (F.col("v") != target) | F.col("v").isNull()
        ).collect()
    }
    assert got == expect


@given(rows=_rows)
@_settings
def test_sum_empty_input_coalesce_default(spark, rows):
    """`coalesce(sum(x), 0)` must yield 0 on empty input and on all-null
    input — the reference's `agg[0]?.x || 0` idiom (SURVEY §2.5 A4)."""
    only_nulls = [(i, None) for i in range(3)]
    for data in ([], only_nulls, [(i, v) for i, (_, v) in enumerate(rows)]):
        df = spark.createDataFrame(data, "id long, v int")
        out = df.agg(F.coalesce(F.sum("v"), F.lit(0)).alias("s")).collect()[0].s
        expected = sum(v for _, v in data if v is not None)
        assert out == expected


def test_scd2_versioning_invariants(spark):
    """SCD2 output invariants on the fixture: every dimension key has
    exactly one current row; closed rows carry a valid_to equal to the new
    version's valid_from (contiguous history); version numbers are dense
    from 1."""
    from mini_hive_server_spark.operators.mutations import mutation_scd2_merge

    from .conftest import SF_ORACLE

    out = mutation_scd2_merge(spark, SF_ORACLE).collect()
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r.c_custkey, []).append(r)
    assert by_key, "empty SCD2 output"
    for key, rows in by_key.items():
        rows.sort(key=lambda r: r.version)
        assert [r.version for r in rows] == list(range(1, len(rows) + 1)), key
        assert sum(r.is_current for r in rows) == 1, key
        assert rows[-1].is_current and rows[-1].valid_to is None, key
        for closed, nxt in zip(rows, rows[1:]):
            assert not closed.is_current, key
            assert closed.valid_to == nxt.valid_from, key


def test_sequential_fold_hot_key_scale_guard(spark):
    """Scale guard for the greedy-budget ledger fold (VERDICT r4 nit #2):
    the fold walks each key's requests sequentially inside one SQL
    `aggregate`, so parallelism is key-level only — one pathological
    user must not slow the whole stage superlinearly or serialize other
    keys behind it.

    Plants ONE hot key with 10^4 and then 10^5 requests next to 200
    normal keys and asserts (a) the fold's greedy-skip semantics match a
    local replay on the hot key exactly, (b) every other key still
    produces output (no key starves behind the hot one), and (c)
    wall-time grows ~linearly in the hot-key size: each big run must
    stay under 8x the 10^3-row run (a quadratic fold would be ~100x at
    10^4 and ~10^4x at 10^5) and under a generous absolute cap. The
    10^5 point is the one that catches a per-request accumulator array
    (concat inside the lambda copies it every step): 13.8 s at 3x10^4,
    while 10^4 alone measured only 4.1x."""
    import time

    from mini_hive_server_spark.plans.reference_model import _budget_fold

    normal = spark.createDataFrame(
        [(f"u{k}", f"u{k}", i, i, 100 + i, 250) for k in range(200) for i in range(3)],
        "key string, grp string, ord_ts long, ord_id long, cost_c long, budget_c long",
    )

    def build(hot_n: int):
        # hot user: budget admits only part of the requests, cost varies
        hot = spark.range(hot_n).selectExpr(
            "'hot' AS key",
            "'hot' AS grp",
            "id AS ord_ts",
            "id AS ord_id",
            "(id * 37) % 500 + 1 AS cost_c",
            "100000L AS budget_c",
        )
        return hot.unionByName(normal)

    def run(hot_n: int):
        df = build(hot_n)
        t0 = time.perf_counter()
        out = _budget_fold(df).collect()
        return time.perf_counter() - t0, out

    t_small, _ = run(1_000)
    for hot_n in (10_000, 100_000):
        t_big, out = run(hot_n)

        # (a) hot-key semantics == local greedy replay
        (hot,) = [r for r in out if r.key == "hot"]
        rem, expect = 100_000, 0
        for i in range(hot_n):
            c = (i * 37) % 500 + 1
            if c <= rem:
                rem -= c
                expect += 1
        assert (hot.n, hot.n_acc) == (hot_n, expect), (hot_n, hot)

        # (b) no key starves: all 201 keys present, normal keys fold correctly
        assert len({r.key for r in out}) == 201
        (u0,) = [r for r in out if r.key == "u0"]
        assert (u0.n, u0.n_acc, u0.acc_c) == (3, 2, 201)  # 100+101 fit in 250

        # (c) linearity: 10x and 100x input must cost well under a
        # quadratic blow-up. Generous bounds absorb host noise: ratio < 8
        # (measured ~1-2x since job overhead dominates), absolute < 30s.
        assert t_big < max(8 * t_small, 10.0), (hot_n, t_small, t_big)
        assert t_big < 30.0, (hot_n, t_big)


def _greedy_replay(reqs):
    """Plain-Python greedy-skip replay: {(key, grp): (budget_c, n, n_acc,
    acc_c)} over (key, grp, ord_ts, ord_id, cost_c, budget_c) tuples,
    each key folded in (ord_ts NULLs last, ord_id) order from its first
    request's budget."""
    by_key: dict = {}
    for r in reqs:
        by_key.setdefault(r[0], []).append(r)
    out: dict = {}
    for key, rows in by_key.items():
        rows.sort(key=lambda r: (r[2] is None, r[2] or 0, r[3]))
        rem = budget = rows[0][5]
        for _, grp, _, _, cost, _ in rows:
            ok = cost <= rem
            if ok:
                rem -= cost
            _, n, n_acc, acc_c = out.get((key, grp), (budget, 0, 0, 0))
            out[(key, grp)] = (budget, n + 1, n_acc + ok, acc_c + cost * ok)
    return out


def test_budget_fold_equals_python_greedy_replay(spark):
    """The JVM budget fold's per-(key, grp) output equals a plain-Python
    greedy replay on seeded random keys plus one hand-built key per edge
    case: ord_ts ties broken by ord_id, NULL ord_ts folded last, a cost
    equal to the remaining budget (accepted: `<=`), zero and negative
    budgets, several grp values (and a NULL grp) under one key, and a
    rejected first request followed by an accepted cheaper one."""
    import random

    from mini_hive_server_spark.plans.reference_model import _budget_fold

    reqs = [
        # ties on ord_ts: id 1 (cost 8) folds before id 2 (cost 5)
        ("tie", "tie", 7, 2, 5, 10),
        ("tie", "tie", 7, 1, 8, 10),
        # NULL ord_ts last: the ts=5 request takes the budget first
        ("null", "null", None, 1, 8, 10),
        ("null", "null", 5, 2, 5, 10),
        # cost == remaining is accepted, the next 1 cent is not
        ("exact", "exact", 1, 1, 4, 10),
        ("exact", "exact", 2, 2, 6, 10),
        ("exact", "exact", 3, 3, 1, 10),
        # zero budget admits only free requests; negative admits nothing
        ("zero", "zero", 1, 1, 0, 0),
        ("zero", "zero", 2, 2, 1, 0),
        ("neg", "neg", 1, 1, 0, -5),
        ("neg", "neg", 2, 2, 3, -5),
        # several grp values share one key's budget
        ("multi", "x", 1, 1, 4, 10),
        ("multi", "y", 2, 2, 9, 10),
        ("multi", "z", 3, 3, 6, 10),
        ("multi", None, 4, 4, 0, 10),
        ("multi", "x", 5, 5, 1, 10),
        # rejected first request, later cheaper one accepted
        ("skip", "skip", 1, 1, 20, 10),
        ("skip", "skip", 2, 2, 5, 10),
    ]
    rng = random.Random(20261017)
    oid = 100
    for k in range(60):
        budget = rng.randint(-20, 60)
        for _ in range(rng.randint(1, 12)):
            oid += 1
            reqs.append(
                (
                    f"r{k}",
                    rng.choice(["a", "b", "c", None]),
                    None if rng.random() < 0.2 else rng.randint(0, 4),
                    oid,
                    rng.randint(0, 30),
                    budget,
                )
            )
    rng.shuffle(reqs)
    df = spark.createDataFrame(
        reqs,
        "key string, grp string, ord_ts long, ord_id long, cost_c long, budget_c long",
    ).repartition(3)
    got = {
        (r.key, r.grp): (r.budget_c, r.n, r.n_acc, r.acc_c)
        for r in _budget_fold(df).collect()
    }
    expect = _greedy_replay(reqs)
    assert got == expect
    # the hand-built cases fold the way their comments say
    assert got[("tie", "tie")] == (10, 2, 1, 8)
    assert got[("null", "null")] == (10, 2, 1, 5)
    assert got[("exact", "exact")] == (10, 3, 2, 10)
    assert got[("zero", "zero")] == (0, 2, 1, 0)
    assert got[("neg", "neg")] == (-5, 2, 0, 0)
    assert got[("multi", "x")] == (10, 2, 1, 4)
    assert got[("multi", "y")] == (10, 1, 0, 0)
    assert got[("multi", "z")] == (10, 1, 1, 6)
    assert got[("multi", None)] == (10, 1, 1, 0)
    assert got[("skip", "skip")] == (10, 2, 1, 5)


@given(
    rows=st.lists(
        st.integers(min_value=0, max_value=5),  # heavy ties guaranteed
        min_size=0,
        max_size=40,
    ),
    n_buckets=st.integers(min_value=1, max_value=7),
)
@_settings
def test_global_ntile_equals_window_ntile(spark, rows, n_buckets):
    """ranking.global_ntile must equal Spark's own window ntile for ANY
    data — including all-tied values, N < n buckets, and single rows —
    because the repaired statistics queries claim bit-identical cells.
    The order is totalized by the unique id tiebreak (the helper's
    documented requirement)."""
    from pyspark.sql import Window

    from mini_hive_server_spark.operators.ranking import (
        global_ntile,
        global_row_number,
    )

    if not rows:
        return
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)], "id long, v long"
    ).repartition(5)
    order = [F.col("v").desc(), "id"]
    ref = {
        r.id: (r.b, r.rk)
        for r in df.select(
            "id",
            F.ntile(n_buckets).over(Window.orderBy(*order)).alias("b"),
            F.row_number().over(Window.orderBy(*order)).alias("rk"),
        ).collect()
    }
    got_b = {
        r.id: r.b
        for r in global_ntile(df, n_buckets, order, "b").collect()
    }
    ranked = global_row_number(df, order, rank_col="rk", total_col="tot")
    got_r = {r.id: r.rk for r in ranked.collect()}
    tots = {r.tot for r in ranked.collect()}
    assert got_b == {k: b for k, (b, _) in ref.items()}
    assert got_r == {k: rk for k, (_, rk) in ref.items()}
    assert tots == {len(rows)}


@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=100)),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_global_cumsum_equals_window_sum(spark, vals):
    """ranking.global_cumsum must equal the single-partition window
    running sum exactly for any integral input — zeros AND NULLs
    included (round-10 self-review: an all-NULL range partition used to
    NULL-poison every later partition's offset; window semantics skip
    NULLs and only an all-NULL prefix yields NULL) — the
    sequence-packing query's bin assignment depends on every prefix."""
    from pyspark.sql import Window

    from mini_hive_server_spark.operators.ranking import global_cumsum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    ).repartition(5)
    ref = {
        r.id: r.c
        for r in df.select(
            "id",
            F.sum("v")
            .over(
                Window.orderBy("id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("c"),
        ).collect()
    }
    got = {r.id: r.cum for r in global_cumsum(df, ["id"], "v").collect()}
    assert got == ref


@given(
    vals=st.lists(
        st.integers(min_value=-100, max_value=100), min_size=1, max_size=40
    ),
    exclusive=st.booleans(),
)
@_settings
def test_global_cummin_equals_window_min(spark, vals, exclusive):
    """ranking.global_cummin must equal the single-partition window
    running min exactly, in both inclusive and exclusive frames (the
    skyline's dominance test reads the strictly-prior minimum; NULL for
    an empty prefix must survive the distributed form too)."""
    from pyspark.sql import Window

    from mini_hive_server_spark.operators.ranking import global_cummin

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    ).repartition(5)
    hi = -1 if exclusive else Window.currentRow
    ref = {
        r.id: r.c
        for r in df.select(
            "id",
            F.min("v")
            .over(
                Window.orderBy("id").rowsBetween(Window.unboundedPreceding, hi)
            )
            .alias("c"),
        ).collect()
    }
    got = {
        r.id: r.cm
        for r in global_cummin(
            df, ["id"], "v", "cm", exclusive=exclusive
        ).collect()
    }
    assert got == ref

def test_global_cumsum_null_partition_regression(spark):
    """Deterministic pin of the round-10 self-review NULL finding
    (hypothesis may not reliably shrink to it): NULLs concentrated at
    the LOW end of the order force range partition 0 to aggregate a
    NULL partial sum — the offsets fold must treat it as 0 for later
    partitions (not propagate NULL into every downstream cumsum), while
    the all-NULL-prefix rows themselves stay NULL, and a NULL local
    prefix in a LATER partition must fall through to the earlier
    partitions' sum (window parity in all three regimes)."""
    from pyspark.sql import Window

    from mini_hive_server_spark.operators.ranking import global_cumsum

    vals = [None] * 10 + [1, 2, None, 3] + [None]  # trailing NULL: late
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    ).repartition(5)
    ref = {
        r.id: r.c
        for r in df.select(
            "id",
            F.sum("v")
            .over(
                Window.orderBy("id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("c"),
        ).collect()
    }
    got = {
        r.id: r.cum
        for r in global_cumsum(df, ["id"], "v", num_partitions=4).collect()
    }
    assert got == ref
    assert got[0] is None and got[9] is None  # all-NULL prefix stays NULL
    assert got[14] == 6  # trailing NULL falls through to the prior sum


def test_global_cummin_null_partition_regression(spark):
    """The cummin twin of the NULL-partition pin above — round-10
    self-review finding #8's disposition was REJECTED-as-already-safe:
    the offsets fold merges with `F.least`, which skips NULLs in Spark,
    so an all-NULL partition's NULL partial min cannot poison later
    partitions the way the cumsum `acc + x` fold could. That claim
    lived only in a comment (ranking.py); this test pins it with the
    same adversarial layout (NULLs forced into range partition 0)."""
    from pyspark.sql import Window

    from mini_hive_server_spark.operators.ranking import global_cummin

    vals = [None] * 10 + [5, 2, None, 3] + [None]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    ).repartition(5)
    ref = {
        r.id: r.c
        for r in df.select(
            "id",
            F.min("v")
            .over(
                Window.orderBy("id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("c"),
        ).collect()
    }
    got = {
        r.id: r.cm
        for r in global_cummin(
            df, ["id"], "v", "cm", num_partitions=4
        ).collect()
    }
    assert got == ref
    assert got[0] is None and got[9] is None  # all-NULL prefix stays NULL
    assert got[14] == 2  # trailing NULL falls through to the prior min


def test_global_ntile_rejects_nonpositive_n(spark):
    """Window ntile(0) raises at analysis time; the distributed form
    must not silently produce NULL buckets instead (round-10
    self-review: `% 0` is NULL under non-ANSI sessions)."""
    import pytest as _pytest

    from mini_hive_server_spark.operators.ranking import global_ntile

    df = spark.createDataFrame([(1, 1)], "id long, v long")
    # True passes isinstance(n, int) and would silently mean ntile(1)
    # without the explicit bool rejection (ADVICE r10 #4)
    for bad in (0, -1, 2.5, True, False):
        with _pytest.raises(ValueError):
            global_ntile(df, bad, ["id"], "b")


def test_ranking_accepts_bare_string_order_cols(spark):
    """A bare-string order_cols used to iterate character by character
    (silently wrong keys on single-letter schemas); it must now mean
    [that column] (round-10 self-review)."""
    from mini_hive_server_spark.operators.ranking import global_row_number

    df = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], "id long, name string"
    )
    got = {
        r.name: r.rk for r in global_row_number(df, "id", "rk").collect()
    }
    assert got == {"a": 1, "b": 2, "c": 3}


def test_ranking_output_named_like_input_replaces_it_in_place(spark):
    """An output column named like an input column replaces it at its
    original position (withColumn semantics) instead of emitting two
    same-named columns, for every ranking operator."""
    from mini_hive_server_spark.operators.ranking import (
        global_cummin,
        global_cumsum,
        global_ntile,
        global_row_number,
    )

    df = spark.createDataFrame(
        [(3, 30, "c"), (1, 10, "a"), (2, 20, "b")], "id long, v long, name string"
    )
    outs = {
        "row_number": global_row_number(df, "id", rank_col="v"),
        "ntile": global_ntile(df, 3, "id", bucket_col="v"),
        "cumsum": global_cumsum(df, "id", "v", cumsum_col="v"),
        "cummin": global_cummin(df, "id", "v", cummin_col="v"),
    }
    expected = {
        "row_number": {"a": 1, "b": 2, "c": 3},
        "ntile": {"a": 1, "b": 2, "c": 3},
        "cumsum": {"a": 10, "b": 30, "c": 60},
        "cummin": {"a": 10, "b": 10, "c": 10},
    }
    for op, out in outs.items():
        assert out.columns == ["id", "v", "name"], op
        assert {r.name: r.v for r in out.collect()} == expected[op], op
    # a total column named like an input also replaces it in place
    ranked = global_row_number(df, "id", rank_col="rk", total_col="name")
    assert ranked.columns == ["id", "v", "name", "rk"]
    assert {r.id: (r.name, r.rk) for r in ranked.collect()} == {
        1: (3, 1), 2: (3, 2), 3: (3, 3)
    }


@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
        min_size=1,
        max_size=40,
    ),
    exclusive=st.booleans(),
)
@_settings
def test_ranking_sql_strings_survive_any_identifier(spark, vals, exclusive):
    """Column names reach ranking's SQL-string folds (offset names derive
    from the value column; every input column is re-selected by name).
    With a value column holding a quote and a space, and output names
    holding a backtick, a quote and a space — chained, so the cummin
    call re-selects the cumsum's backtick-named output — the results
    must equal the window-function forms."""
    from pyspark.sql import Window

    from mini_hive_server_spark.operators.ranking import (
        global_cummin,
        global_cumsum,
    )

    value, cum, cmin = "v 'x", "c`s 'q", "m`n' o"
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], f"id long, `{value}` long"
    ).repartition(5)
    hi = -1 if exclusive else Window.currentRow
    w = Window.orderBy("id")
    ref = {
        r.id: (r.c, r.m)
        for r in df.select(
            "id",
            F.sum(value)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("c"),
            F.min(value)
            .over(w.rowsBetween(Window.unboundedPreceding, hi))
            .alias("m"),
        ).collect()
    }
    summed = global_cumsum(df, ["id"], value, cum)
    out = global_cummin(summed, ["id"], value, cmin, exclusive=exclusive)
    assert out.columns == ["id", value, cum, cmin]
    got = {r["id"]: (r[cum], r[cmin]) for r in out.collect()}
    assert got == ref
