"""The synthesized reference-shaped tables (fixtures.py) must actually
carry every FIXTURES.md §B quirk and §C edge case — otherwise the
reference_model quirk queries exercise nothing — and must reproduce
bit-identically in DuckDB (the property that makes them oracle-able)."""

from __future__ import annotations

import threading

import duckdb
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mini_hive_server_spark import fixtures, persistence
from mini_hive_server_spark.catalog import session_memos

from .conftest import SF_ORACLE
from .oracle_harness import compare


def _t(spark, name):
    return fixtures.reference_table(spark, name)


def test_submission_quirks_present(spark):
    subs = _t(spark, "ref_submissions")
    stats = subs.agg(
        F.count(F.when(F.col("taskId").isNotNull(), 1)).alias("alt_key"),
        F.count(F.when(F.col("task_id").isNotNull(), 1)).alias("main_key"),
        F.count(F.when(F.col("status") == "approve", 1)).alias("misspelled"),
        F.count(F.when(F.col("payable_amount").isNull(), 1)).alias("null_pay"),
        F.count(F.when(F.col("buyer_email").isNull(), 1)).alias("null_buyer"),
    ).first()
    n = subs.count()
    assert 0.05 * n < stats.alt_key < 0.15 * n, stats  # ~10% taskId spelling
    assert stats.main_key + stats.alt_key == n  # exactly one spelling per row
    assert 0.01 * n < stats.misspelled < 0.04 * n  # ~2% 'approve'
    assert 0.03 * n < stats.null_pay < 0.08 * n  # ~5% NULL amount
    # ~1% orphan task references (no matching task)
    tasks = _t(spark, "ref_tasks").select(F.col("id").alias("tid"))
    orphans = (
        subs.select(F.coalesce("task_id", "taskId").alias("ref"))
        .join(F.broadcast(tasks), F.col("ref") == F.col("tid"), "left_anti")
        .count()
    )
    assert 0.005 * n < orphans < 0.02 * n, orphans


def test_payment_dual_shapes(spark):
    pays = _t(spark, "ref_payments")
    shapes = pays.agg(
        F.count(F.when(F.col("email").isNotNull(), 1)).alias("shape_b"),
        F.count(F.when(F.col("buyer_email").isNotNull(), 1)).alias("shape_a"),
        F.count(
            F.when(F.col("email").isNotNull() & F.col("buyer_email").isNotNull(), 1)
        ).alias("both"),
    ).first()
    n = pays.count()
    assert shapes.both == 0  # shapes are mutually exclusive, like the writers
    assert 0.5 * n < shapes.shape_b < 0.7 * n  # ~60% shape-B
    assert shapes.shape_a + shapes.shape_b == n


def test_user_and_task_edge_cases(spark):
    users = _t(spark, "ref_users")
    assert users.filter(F.col("role") == "ghost").count() == 1  # §C.5
    tasks = _t(spark, "ref_tasks")
    assert tasks.filter(F.col("status").isNull()).count() >= 1  # §C.2
    assert (
        tasks.filter(F.col("updatedAt").isNull()).count() > 0.5 * tasks.count()
    )  # ~70% never patched
    # §C.1: buyer #5 (buyer-FK: (5 div 30)*100 + (5 mod 30) + 1 = user 6)
    # has tasks but zero payments
    b5 = "user6@example.com"
    assert tasks.filter(F.col("buyer_email") == b5).count() > 0
    pays = _t(spark, "ref_payments")
    assert (
        pays.filter(
            (F.col("email") == b5) | (F.col("buyer_email") == b5)
        ).count()
        == 0
    )


def test_withdrawal_and_oversubscription_edges(spark):
    wds = _t(spark, "ref_withdrawals")
    n_low = wds.filter(F.col("withdrawal_coin") < 200).count()
    assert 0 < n_low < 0.1 * wds.count()  # sub-minimum rows exist (§C, min rule)
    # §C.4: at least one over-subscribed task (the audit query is non-empty)
    from mini_hive_server_spark import registry

    over = registry.queries()["ref_oversubscribed_tasks"](spark, "")
    assert over.count() > 0


def test_duckdb_reproduces_identical_rows(spark):
    """Cross-engine determinism of all six collections via full-row md5
    rollups (cheap, order-insensitive): every `ref_*` query reads the
    session's held copy, and its oracle re-synthesizes the same rows in
    DuckDB."""
    con = duckdb.connect()
    for table in fixtures.REF_TABLE_NAMES:
        sdf = fixtures.reference_table(spark, table)
        cols = [
            F.date_format(n, "yyyy-MM-dd HH:mm:ss").alias(n)
            if dt.startswith("timestamp")
            else F.col(n).cast("string").alias(n)
            for n, dt in sdf.dtypes
        ]
        names = sorted(sdf.columns)
        rollup = (
            sdf.select(*cols)
            .select(
                F.md5(
                    F.concat_ws("|", *[F.coalesce(F.col(n), F.lit("NULL")) for n in names])
                ).alias("h")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("hsum"))
            .first()
        )
        ts_cols = {n for n, dt in sdf.dtypes if dt.startswith("timestamp")}
        concat = "concat_ws('|', " + ", ".join(
            (
                f"coalesce(strftime({n}, '%Y-%m-%d %H:%M:%S'), 'NULL')"
                if n in ts_cols
                else f"coalesce({n}::VARCHAR, 'NULL')"
            )
            for n in names
        ) + ")"
        duck = con.execute(
            f"WITH {fixtures.duck_cte(table)} "
            f"SELECT count(*) AS n, sum(('0x' || substr(md5({concat}), 1, 8))::BIGINT) AS hsum "
            f"FROM {table}"
        ).fetchone()
        assert (rollup.n, rollup.hsum) == duck, (table, rollup, duck)


# --- the session's held copies ------------------------------------------


def _forget_held_copies(spark) -> None:
    """Empty every live session's reference memo and the shared cache:
    the next `reference_table` call synthesizes from scratch."""
    for memo in session_memos("reference_tables"):
        memo.clear()
    spark.catalog.clearCache()


def _leaf_names(df) -> list[str]:
    """Leaf node names of the plan ``df`` runs, after cached-data
    substitution."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def _assert_same_rows(got, want, table: str) -> None:
    assert got.exceptAll(want).count() == 0, table
    assert want.exceptAll(got).count() == 0, table


def _synthesize_uncached(spark, chain) -> dict:
    """Each collection's defining SQL, run with nothing cached and held
    as checkpoint blocks: a LogicalRDD matches no cached plan, so a later
    comparison reads these rows and not the held copy."""
    out = {}
    for t in fixtures.REF_TABLE_NAMES:
        out[t], _ = chain.step(spark.sql(fixtures.spark_sql_for(t)))
        assert _leaf_names(out[t]) == ["LogicalRDD"], t
    return out


def test_warm_call_returns_the_held_copy(spark):
    first = fixtures.reference_table(spark, "ref_tasks")
    assert fixtures.reference_table(spark, "ref_tasks") is first
    assert first.storageLevel != StorageLevel.NONE


def test_held_copies_equal_fresh_synthesis(spark):
    _forget_held_copies(spark)
    with persistence.CheckpointChain(keep=None, hand_off=False) as chain:
        fresh = _synthesize_uncached(spark, chain)
        for t, want in fresh.items():
            held = fixtures.reference_table(spark, t)
            assert _leaf_names(held) == ["InMemoryRelation"], t
            _assert_same_rows(held, want, t)


# ceiling on one held copy's materialized (in-memory columnar) size: a
# copy lives in one partition, so one task builds and scans all of it
_HELD_COPY_CEILING_MB = 64


def test_held_copies_stay_under_the_one_partition_ceiling(spark):
    """Each held copy is one partition (fixtures.reference_table), which
    is justified only while its size is fixed and small: the row counts
    are the `N_*` constants, the same at every scale factor, and the
    materialized copy stays under the stated ceiling."""
    for table in fixtures.REF_TABLE_NAMES:
        held = fixtures.reference_table(spark, table)
        held.count()
        leaves = held._jdf.queryExecution().withCachedData().collectLeaves()
        assert leaves.size() == 1, table
        size = leaves.apply(0).cacheBuilder().sizeInBytesStats().value()
        assert 0 < size < _HELD_COPY_CEILING_MB * 2**20, (table, size)


def test_clear_cache_rebuilds_a_fresh_copy(spark):
    old = fixtures.reference_table(spark, "ref_withdrawals")
    old.count()
    spark.catalog.clearCache()
    assert old.storageLevel == StorageLevel.NONE
    new = fixtures.reference_table(spark, "ref_withdrawals")
    assert new is not old
    assert new.storageLevel != StorageLevel.NONE
    assert fixtures.reference_table(spark, "ref_withdrawals") is new


def _rollup(df) -> tuple:
    row = df.agg(F.count(F.lit(1)), F.sum(F.hash(*df.columns))).first()
    return tuple(row)


def test_concurrent_first_touch_builds_one_copy(spark):
    """Handler threads racing on a cold memo each read the same rows,
    and Spark caches one copy: the second persist of an equal plan is a
    no-op, which is why `reference_table` takes no lock."""
    _forget_held_copies(spark)
    want = _rollup(fixtures.reference_table(spark, "ref_submissions"))
    _forget_held_copies(spark)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    barrier = threading.Barrier(4)
    got: list = []
    errors: list[str] = []

    def touch() -> None:
        try:
            barrier.wait(timeout=60)
            got.append(_rollup(fixtures.reference_table(spark, "ref_submissions")))
        except Exception as e:  # surface in the main thread
            errors.append(f"{type(e).__name__}: {e}")

    threads = [threading.Thread(target=touch) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads), "threads did not finish"
    assert not errors, errors
    assert got == [want] * 4
    new = set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before
    assert len(new) == 1, new


def test_held_copies_ignore_the_building_session_conf(spark):
    """Synthesis depends on no session conf: copies built first in a
    child session that starts with a non-UTC timezone and ANSI off equal
    the vanilla session's synthesis, and the two queries that render the
    synthesized timestamps stay oracle-MATCH in both sessions."""
    from mini_hive_server_spark import registry

    _forget_held_copies(spark)
    child = spark.newSession()
    child.conf.set("spark.sql.session.timeZone", "America/New_York")
    child.conf.set("spark.sql.ansi.enabled", "false")
    with persistence.CheckpointChain(keep=None, hand_off=False) as chain:
        fresh = _synthesize_uncached(spark, chain)
        for t, want in fresh.items():
            held = fixtures.reference_table(child, t)
            assert _leaf_names(held) == ["InMemoryRelation"], t
            _assert_same_rows(held, want, t)
    specs = registry.all_specs()
    for session in (child, spark):
        for name in ("ref_worker_submission_page", "ref_notifications_feed"):
            spec = specs[name]
            before = session.conf.get("spark.sql.session.timeZone")
            session.conf.set("spark.sql.session.timeZone", "America/New_York")
            try:
                problems = compare(name, spec.fn(session, SF_ORACLE), spec.oracle, SF_ORACLE)
            finally:
                session.conf.set("spark.sql.session.timeZone", before)
            assert not problems, "\n".join(problems)
    assert child.conf.get("spark.sql.ansi.enabled") == "false"
    _forget_held_copies(spark)


def test_synthesized_timestamps_render_alike_in_every_zone(spark):
    """Every synthesized timestamp is a TIMESTAMP_NTZ holding UTC wall-clock
    time, and its render (`reference_model._ts_text`) reads the same under
    America/New_York as under UTC, the 10 rows inside New York's DST gaps
    included (where `date_format` would read an hour late)."""
    from mini_hive_server_spark.plans.reference_model import _ts_text

    new_york = spark.newSession()
    new_york.conf.set("spark.sql.session.timeZone", "America/New_York")
    in_gap = 0
    for table in fixtures.REF_TABLE_NAMES:
        types = dict(_t(spark, table).dtypes)
        cols = [c for c, t in types.items() if t.startswith("timestamp")]
        assert cols and all(types[c] == "timestamp_ntz" for c in cols), (table, types)
        rendered = [
            sorted(_t(s, table).select("id", *(_ts_text(c) for c in cols)).collect())
            for s in (spark, new_york)
        ]
        assert rendered[0] == rendered[1], table
        in_gap += sum(
            (v or "")[:13] in ("2024-03-10 02", "2025-03-09 02")
            for row in rendered[0]
            for v in row[1:]
        )
    assert in_gap == 10
