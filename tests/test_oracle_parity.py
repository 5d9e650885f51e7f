"""Driver-gate replica: every oracle-paired query must match DuckDB exactly
at sf0.01 (the driver's correctness scale factor)."""

from __future__ import annotations

import pytest

from mini_hive_server_spark import registry

from .conftest import SF_ORACLE
from .oracle_harness import compare

SPECS = registry.all_specs()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, name):
    spec = SPECS[name]
    before = spark.conf.getAll
    df = spec.fn(spark, SF_ORACLE)
    problems = compare(name, df, spec.oracle, SF_ORACLE)
    assert not problems, "\n".join(problems)
    assert spark.conf.getAll == before, f"{name} wrote its caller's conf"


def test_no_rows_only_queries():
    """Round-7 lesson (CORRECTNESS_r07): the driver does NOT support
    rows-only checks — an oracle-less registered query burns its window
    slot on a guaranteed `err: no_oracle`. Since round 8 every query is
    oracle-paired; this pins the invariant so a future oracle-less
    registration fails here instead of in the driver gate."""
    rows_only = sorted(n for n, s in SPECS.items() if not s.oracle)
    assert not rows_only, (
        f"oracle-less registered queries (the driver cannot check these): "
        f"{rows_only}"
    )


@pytest.mark.skipif(
    not __import__("os").environ.get("MHS_HOSTILE_SWEEP"),
    reason="opt-in (MHS_HOSTILE_SWEEP=1): boots a second ~8-min session",
)
def test_hostile_session_full_sweep(spark):
    """Repeatable form of the round-8/9 hostile-session sweep (previously
    ad-hoc session scripts): the ENTIRE registry must match its oracles
    under a session with hostile SQL confs. Opt-in via
    MHS_HOSTILE_SWEEP=1 (a second full ~8-min sweep).

    The hostile dimensions are ansi-mode OFF, a non-default
    shuffle-partition count and a half-hour-offset timezone
    (Asia/Kolkata). All three stay in force for the whole sweep:
    timestamps are bound zone-free and no query writes its caller's
    conf (tests/test_conf_writes.py), so the zone the sweep sets is the
    zone every query runs under (tier-1 covers America/New_York in
    tests/test_timezone.py).

    ADVICE r9 (medium): the round-9 form used
    `SparkSession.builder...getOrCreate()`, which inside the suite
    RETURNS the already-active shared fixture session — so the hostile
    confs were applied to the shared session and the trailing `stop()`
    killed it for every later test. The isolated form is
    `spark.newSession()`: same SparkContext, but SQL confs
    (`spark.sql.*`) live in the per-session SQLConf, so the hostile
    ansi/shuffle settings never touch the fixture session and no stop()
    is needed (the child session is simply dropped; every per-session
    reuse, the table handles and the graph-family edge cache included,
    lives in that session's own `catalog.session_memo`, so no handle
    crosses sessions in either direction)."""
    from mini_hive_server_spark.operators.graph import clear_copurchase_cache

    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    hostile.conf.set("spark.sql.ansi.enabled", "false")
    hostile.conf.set("spark.sql.shuffle.partitions", "32")
    # the isolation contract this test depends on: per-session SQLConf
    assert (
        spark.conf.get("spark.sql.session.timeZone") == "UTC"
    ), "hostile confs leaked into the shared fixture session"
    shared_ansi = spark.conf.get("spark.sql.ansi.enabled")
    # start the sweep cold: earlier tests warmed the graph edge cache
    # with fixture-session entries; the identity check would rebuild
    # under `hostile` anyway, but a cold start keeps the sweep's graph
    # timings self-contained
    clear_copurchase_cache()
    fails: list[str] = []
    try:
        for name in ORACLE_NAMES:
            spec = SPECS[name]
            before = hostile.conf.getAll
            fails += compare(
                name, spec.fn(hostile, SF_ORACLE), spec.oracle, SF_ORACLE
            )
            if hostile.conf.getAll != before:
                fails.append(f"{name} wrote its caller's conf")
    finally:
        clear_copurchase_cache()  # drop hostile-session blocks eagerly
    assert not fails, fails[:10]
    # the hostile confs stayed as set for the whole sweep
    assert hostile.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
    assert hostile.conf.get("spark.sql.ansi.enabled") == "false"
    # the shared session must come out exactly as it went in
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.ansi.enabled") == shared_ansi, (
        "shared session ansi conf mutated by the sweep"
    )
