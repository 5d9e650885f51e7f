"""The driver's correctness gate runs 50 queries sequentially in one
session without clearing cache; query-internal persist() blocks must not
accumulate across invocations (persistence.py's tracked-release contract).

De-flaked (round 6): the old form asserted the SESSION-GLOBAL cached-RDD
count hit exactly 0, which raced (a) residual cached blocks left by
earlier test files in the shared session and (b) Spark's asynchronous
`unpersist` drain. The test now (1) clears the session cache in its
arrange step, (2) asserts on the tracker's own live set — the contract
the engine actually controls — and (3) polls the global count with a
timeout to absorb the async drain instead of sampling it once."""

from __future__ import annotations

import time

import pytest

from mini_hive_server_spark import persistence, registry

from .conftest import SF_SMOKE


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _drain_to(spark, target: int, timeout_s: float = 30.0) -> int:
    """Poll the session-global cached-RDD count until it reaches
    ``target`` or the timeout passes (unpersist is asynchronous)."""
    deadline = time.monotonic() + timeout_s
    n = _n_cached_rdds(spark)
    while n > target and time.monotonic() < deadline:
        time.sleep(0.2)
        n = _n_cached_rdds(spark)
    return n


def _clear_all_persistent(spark) -> None:
    """clearCache drops only InMemoryRelations; blocks persisted at the
    RDD layer (localCheckpoint lineage truncation, ML internals) survive
    it. Unpersist EVERY persistent RDD, synchronously, via the
    JavaSparkContext registry."""
    spark.catalog.clearCache()
    # py4j exposes the java Map as a dict-like view of JavaRDDs
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def test_correctness_bearing_persist_survives_early_release(spark):
    """ADVICE r6 (medium): ranking.py's ranged relation is
    correctness-bearing — a caller that builds the NEXT registered query
    BEFORE collecting a ranking-family DataFrame must not strand it on a
    freshly-re-sampled range exchange. The tracked release must DEFER
    (the buffers were never built), keep the persist active through the
    late collect, and release it at the first cycle after
    materialization."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mini_hive_server_spark.operators.ranking import global_row_number
    from mini_hive_server_spark.persistence import _DeferredRelease, _cache_state

    persistence.release_tracked()  # drop/defer residue from other files
    # residue can legitimately SURVIVE that call: a build-only caller (e.g.
    # the registry-wide plan audit, which explains every query without
    # executing) leaves pending _DeferredRelease entries that re-defer by
    # design until their buffers are built. This test's contract is about
    # ITS OWN ranked relation, so track only entries it creates.
    pre = {id(e) for e in persistence._LIVE}
    df = spark.range(0, 5000).selectExpr("id", "cast(id % 97 as long) as v")
    ranked = global_row_number(df, ["v", "id"], rank_col="rk")
    deferred = [
        e
        for e in persistence._LIVE
        if isinstance(e, _DeferredRelease) and id(e) not in pre
    ]
    assert deferred, "ranged relation not tracked as correctness-bearing"
    assert all(_cache_state(e._df) == "pending" for e in deferred)

    # the hazard: a release cycle fires BEFORE the consumer materializes
    persistence.release_tracked()
    assert all(
        _cache_state(e._df) == "pending" for e in deferred
    ), "early release dropped an uncomputed correctness-bearing persist"

    # late collect still sees the single cached exchange — exact ranks
    got = {r.id: r.rk for r in ranked.collect()}
    exp = {
        r.id: r.rk
        for r in df.withColumn(
            "rk", F.row_number().over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == exp
    assert all(_cache_state(e._df) == "loaded" for e in deferred)

    # and the next cycle actually releases the now-loaded blocks
    persistence.release_tracked()
    assert all(_cache_state(e._df) == "gone" for e in deferred)


def test_tracked_persists_do_not_accumulate(spark):
    # Arrange: start from a clean MemoryStore — earlier test files in the
    # shared session may have cached blocks (checkpoint RDDs, Spark ML
    # internals) that are not this contract's concern.
    persistence.release_tracked()
    _clear_all_persistent(spark)
    assert _drain_to(spark, 0) == 0, "cache did not drain after clear"

    qs = registry.queries()
    # Each of these persists at least one intermediate internally.
    persisting = ["dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine"]
    for name in persisting:
        qs[name](spark, SF_SMOKE).count()
        # Invocation N released N-1's blocks on entry, so the tracker —
        # the set the engine controls — holds only THIS query's working
        # set, and the global count drains to exactly that (async).
        live = len(persistence._LIVE)
        assert 1 <= live <= 4, (name, live)
        n = _drain_to(spark, live)
        assert n <= live, (name, n, live)
    # A subsequent non-persisting query releases the tail; the global
    # count then drains to 0 (async, so poll).
    qs["text_token_count"](spark, SF_SMOKE).count()
    assert len(persistence._LIVE) == 0, "tracker retained blocks"
    assert _drain_to(spark, 0) == 0, "tracked blocks not released"


def test_edge_cache_rebuilds_fresh_plan_on_invalidation(spark):
    """Round-9 measured lesson (SCALE.md "Graph-family edge-build
    cache"): when an external `spark.catalog.clearCache()` drops the
    session-scoped co-purchase edge cache, the wrapper must hand back a
    NEW plan — re-persisting the stale captured DataFrame re-executes
    its frozen first-materialization physical plan without AQE
    re-planning and measured 2x slower on BFS. Pin the three contract
    points: warm hit returns the SAME object; post-clearCache the
    wrapper returns a DIFFERENT DataFrame (fresh plan) that is persisted
    again; explicit clear_copurchase_cache unpersists and forgets."""
    from pyspark.storagelevel import StorageLevel

    from mini_hive_server_spark.operators.graph import (
        clear_copurchase_cache,
        copurchase_edges,
    )

    clear_copurchase_cache()
    a = copurchase_edges(spark, SF_SMOKE)
    a.count()  # materialize
    assert a.storageLevel != StorageLevel.NONE
    assert copurchase_edges(spark, SF_SMOKE) is a, "warm hit must reuse"

    spark.catalog.clearCache()  # external invalidation (bench does this)
    assert a.storageLevel == StorageLevel.NONE
    b = copurchase_edges(spark, SF_SMOKE)
    assert b is not a, "invalidation must rebuild a fresh plan, not re-mark"
    b.count()
    assert b.storageLevel != StorageLevel.NONE
    # same relation either way (the cache is transparent to consumers)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    clear_copurchase_cache()
    assert b.storageLevel == StorageLevel.NONE, "explicit clear unpersists"


def test_edge_cache_lru_hit_refreshes_recency(spark):
    """VERDICT r9 #4 / ADVICE r9: the edge cache is documented LRU, so a
    HIT must refresh recency — the round-9 form evicted
    `next(iter(_EDGE_CACHE))` without re-inserting on hit, i.e. FIFO,
    and with `_EDGE_CACHE_MAX = 2` plus alternating sf_dirs the
    actively-hot entry was the one evicted. Pin the order: fill both
    slots [A, B], touch A (A becomes most-recent), insert C — the
    victim must be B, with A still cached and still the same object."""
    from pyspark.storagelevel import StorageLevel

    from mini_hive_server_spark.operators.graph import (
        clear_copurchase_cache,
        copurchase_edges,
    )

    sf_a, sf_b, sf_c = (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    clear_copurchase_cache()
    try:
        a = copurchase_edges(spark, sf_a)
        a.count()
        b = copurchase_edges(spark, sf_b)
        b.count()
        assert copurchase_edges(spark, sf_a) is a  # hit: A now most-recent
        copurchase_edges(spark, sf_c)  # third entry: evicts the LRU
        assert a.storageLevel != StorageLevel.NONE, (
            "hit did not refresh recency: the most-recently-used entry "
            "was evicted (FIFO behavior)"
        )
        assert copurchase_edges(spark, sf_a) is a, "A must survive as a hit"
        assert b.storageLevel == StorageLevel.NONE, "LRU entry B not evicted"
    finally:
        clear_copurchase_cache()

def test_edge_cache_rebuild_refreshes_recency(spark):
    """Round-10 self-review companion to the hit-refresh test above: the
    REBUILD path (external clearCache invalidated the blocks) must also
    land the refreshed entry at the END of insertion order. Plain
    `d[key] = v` on an existing key keeps its OLD position, so without
    an explicit pop the just-rebuilt entry is evicted as "LRU" while a
    stale untouched sibling survives. Order: fill [A, B], clearCache
    (both invalid), rebuild A (must become most-recent), insert C —
    the victim must be B."""
    from pyspark.storagelevel import StorageLevel

    from mini_hive_server_spark.operators.graph import (
        clear_copurchase_cache,
        copurchase_edges,
    )

    sf_a, sf_b, sf_c = (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    clear_copurchase_cache()
    try:
        copurchase_edges(spark, sf_a).count()
        copurchase_edges(spark, sf_b).count()
        spark.catalog.clearCache()  # invalidates both entries
        a2 = copurchase_edges(spark, sf_a)  # rebuild path: A most-recent
        a2.count()
        copurchase_edges(spark, sf_c)  # third entry: evicts the LRU
        assert a2.storageLevel != StorageLevel.NONE, (
            "rebuild did not refresh recency: the just-rebuilt entry "
            "was evicted as LRU"
        )
        assert copurchase_edges(spark, sf_a) is a2, "A must survive as a hit"
    finally:
        clear_copurchase_cache()


def test_edge_cache_is_session_identity_keyed(spark):
    """Round-10 self-review + ADVICE r10 #2: `spark.newSession()`
    children share the parent's applicationId, so an applicationId-keyed
    cache would serve a DataFrame BUILT UNDER the parent's SQLConf to
    the child (and vice versa — the hostile sweep would silently run the
    graph family under vanilla confs). The cache is keyed by session
    IDENTITY, so siblings never share an entry AND coexist without
    thrashing: alternating parent/child calls on the same sf_dir must
    each stay a warm hit on their own persisted relation."""
    from pyspark.storagelevel import StorageLevel

    from mini_hive_server_spark.operators.graph import (
        clear_copurchase_cache,
        copurchase_edges,
    )

    clear_copurchase_cache()
    try:
        parent_edges = copurchase_edges(spark, SF_SMOKE)
        parent_edges.count()
        child = spark.newSession()
        child_edges = copurchase_edges(child, SF_SMOKE)
        assert child_edges is not parent_edges, (
            "a newSession() sibling must NOT be served the parent "
            "session's cached edge relation"
        )
        child_edges.count()
        # siblings COEXIST (ADVICE r10 #2): the child's build must not
        # evict or unpersist the parent's entry...
        assert parent_edges.storageLevel != StorageLevel.NONE, (
            "sibling sessions on the same sf_dir must cache "
            "independently, not thrash each other's persisted relation"
        )
        # ...and alternating callers each get their own warm hit
        assert copurchase_edges(spark, SF_SMOKE) is parent_edges
        assert copurchase_edges(child, SF_SMOKE) is child_edges
    finally:
        clear_copurchase_cache()


def test_two_threads_keep_their_own_persists(spark):
    """Two threads each run a correctness-bearing ranged persist
    (`orders_gini_coefficient`) and plain persists (`dedup_minhash_lsh`),
    interleaved step by step. The release cycle is per thread, so each
    thread's `_LIVE` holds only its own entries, and the two equal ranged
    plans share one owner-counted cache entry that survives the first
    thread's release until the second thread has collected. Both
    threads' results are oracle-equal, and once both threads released,
    the session's cached-RDD count drains back to where it started."""
    import threading

    from .oracle_harness import compare

    persistence.release_tracked()
    _clear_all_persistent(spark)
    pre = _drain_to(spark, 0)
    main_live = list(persistence._LIVE)

    qs, oracles = registry.queries(), registry.oracles()
    gini, lsh = "orders_gini_coefficient", "dedup_minhash_lsh"
    barrier = threading.Barrier(2, timeout=300)
    errors: list[str] = []
    seen: dict[str, list[int]] = {}

    def check(name, df):
        errors.extend(compare(name, df, oracles[name], SF_SMOKE))

    def run(role: str) -> None:
        try:
            # step 1: both threads build the equal ranged plan
            dfs = {gini: qs[gini](spark, SF_SMOKE)}
            ranged = [
                e
                for e in persistence._LIVE
                if isinstance(e, persistence._DeferredRelease)
            ]
            assert ranged, f"{role}: ranged relation not tracked on its own thread"
            barrier.wait()
            # step 2: A collects, then its next query releases its gini
            # persist while B's equal persist is still uncollected
            if role == "A":
                assert persistence._OWNERS[ranged[0]._key][0] == 2, "not shared"
                check(gini, dfs[gini])
                dfs[lsh] = qs[lsh](spark, SF_SMOKE)
            barrier.wait()
            # step 3: B collects on the shared entry, then releases it;
            # A collects its plain persists meanwhile
            if role == "B":
                state = persistence._cache_state(ranged[0]._df)
                assert state == "loaded", f"shared ranged entry {state}"
                check(gini, dfs[gini])
                dfs[lsh] = qs[lsh](spark, SF_SMOKE)
            else:
                check(lsh, dfs[lsh])
            barrier.wait()
            if role == "B":
                check(lsh, dfs[lsh])
            seen[role] = [id(e) for e in persistence._LIVE]
            barrier.wait()
            persistence.release_tracked()
            assert len(persistence._LIVE) == 0, f"{role}: tracker retained blocks"
        except Exception as e:  # surface in the main thread
            barrier.abort()
            errors.append(f"{role}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=run, args=(r,)) for r in "AB"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "threads did not finish"
    assert not errors, errors
    # each thread tracked its own lsh persists, and only those
    assert seen["A"] and seen["B"]
    assert not set(seen["A"]) & set(seen["B"])
    assert list(persistence._LIVE) == main_live
    main_keys = {getattr(e, "_key", None) for e in main_live}
    assert set(persistence._OWNERS) <= main_keys, "owner counts outlived both releases"
    assert _drain_to(spark, pre) == pre, "tracked blocks not released"


def test_query_that_raises_releases_its_persists(spark):
    """A registered query that raises after `tracked_persist` must not
    leave its blocks for a later cycle: the registry wrapper releases
    what that invocation registered before the error propagates, and
    leaves the thread's earlier entries alone."""
    from pyspark.storagelevel import StorageLevel

    persistence.release_tracked()
    before = list(persistence._LIVE)
    persisted = []

    def persist_then_raise(spark, sf_dir):
        df = persistence.tracked_persist(spark.range(0, 100).selectExpr("id * 7 AS x"))
        ranged = persistence.tracked_persist(
            spark.range(0, 100).selectExpr("id * 11 AS y"), correctness_bearing=True
        )
        persisted.extend([df, ranged])
        assert len(persistence._LIVE) == 2
        raise RuntimeError("boom")

    name = "__test_persist_then_raise"
    registry.register(name, oracle="SELECT 1")(persist_then_raise)
    try:
        with pytest.raises(RuntimeError, match="boom"):
            registry._REGISTRY[name].fn(spark, SF_SMOKE)
    finally:
        del registry._REGISTRY[name]
    assert list(persistence._LIVE) == before
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)


def test_owner_counts_hold_under_concurrent_persists(spark):
    """More threads than cores persist and release one equal plan with a
    short switch interval. Every owner must see the plan cached while it
    holds it (an early unpersist would drop another owner's blocks), and
    after the last release no owner count or cache entry is left (a lost
    count update would keep the blocks forever)."""
    import sys
    import threading

    from pyspark.storagelevel import StorageLevel

    def plan():
        return spark.range(0, 10).selectExpr("id * 13 AS z")

    errors: list[str] = []

    def worker() -> None:
        try:
            for _ in range(20):
                entry = persistence._OwnedPersist(plan())
                if entry._df.storageLevel == StorageLevel.NONE:
                    errors.append("plan uncached while owned")
                entry()
        except Exception as e:
            errors.append(f"{type(e).__name__}: {e}")

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "workers did not finish"
    assert not errors, errors[:5]
    assert plan().semanticHash() not in persistence._OWNERS
    assert plan().storageLevel == StorageLevel.NONE
