"""Scoped persistence for query-internal cached intermediates.

The dedup/similarity tiers persist() intermediates that feed multiple
downstream joins (shingle arrays, fingerprints, bucketed embeddings). A
query function returns a LAZY DataFrame — the caller (driver, tests,
bench) materializes it later — so the query itself can never unpersist:
the blocks must be live when the caller finally collects.

What it CAN do is release the blocks of the PREVIOUS query invocation on
the same thread: a correctness sweep runs 50 queries sequentially in one
session, and without this the persisted blocks accumulate for the whole
run (bench.py clears cache between queries; a plain query loop
doesn't). `registry.register` wraps every query so
invocation N releases invocation N-1's tracked blocks — the live cached
set is bounded by one query's working set per thread, regardless of how
many queries the session runs.

The cycle is per thread. `_LIVE` is a thread-local list (``len``,
iteration and ``append`` as on a list), and `release_tracked` releases
only the calling thread's entries, so a query built on one thread never
releases blocks another thread is about to collect. On one thread (a
query loop, bench, the tests) that is exactly "invocation N releases
N-1".

Two classes of tracked block exist:

* plain (default): the persist is a pure performance hint — releasing it
  early merely recomputes. Released unconditionally at the next cycle.
* correctness-bearing (``correctness_bearing=True`` — ranking.py's ranged
  relation): the cached result correlates ``spark_partition_id`` across
  two consumers of one ``repartitionByRange`` exchange, whose bounds are
  sampled with a per-RDD seed. If the persist were dropped BEFORE the
  consumer materialized, a late action could plan the two subtrees as two
  independent range exchanges with independently-sampled bounds —
  silently wrong ranks, not just wasted work (ADVICE r6). Release is
  therefore DEFERRED: at each cycle the tracker asks the CacheManager
  whether the cached buffers were ever built; if not (consumer never ran
  — e.g. a caller built query N+1 before collecting query N, or the plan
  audit explains without executing), the entry re-registers itself on
  the same thread for the next cycle. An unmaterialized persist holds
  zero storage, so deferral is free; once the consumer materializes, the
  very next cycle releases the blocks as usual.

Equal plans share one cache entry: Spark's CacheManager keeps one entry
per plan, so a second persist of an equal plan is a no-op and an
unpersist by either owner drops the blocks under both. Every tracked
persist therefore owns its plan's key (``semanticHash`` of the analyzed
plan), and the blocks are unpersisted only when the last owner releases
— for a ranged relation shared by two threads, that is what keeps one
thread's release from re-sampling the other's range bounds. A hash
collision between different plans only delays their release until both
are released.

`scope()` gives a block of code its own entries, apart from the thread's
earlier ones. The registry wrapper runs every query in one so a query
that raises releases what it registered before the error propagates;
the HTTP facade runs every request in one that releases everything at
the end, pending entries included — the request's DataFrame is discarded
once its rows are serialized, so no consumer is left to protect, and a
per-request handler thread leaves nothing behind.

At cluster scale the same discipline matters more, not less: executor
storage memory competes with shuffle/execution memory under the unified
memory manager, and dead cached blocks evict live ones or spill to disk.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


class _ThreadEntries(threading.local):
    """The calling thread's tracked releases, in registration order."""

    def __init__(self) -> None:
        self.entries: list[Callable[[], None]] = []

    def __len__(self) -> int:
        return len(self.entries)

    def __iter__(self) -> Iterator[Callable[[], None]]:
        return iter(self.entries)

    def append(self, fn: Callable[[], None]) -> None:
        self.entries.append(fn)

    def take(self) -> list[Callable[[], None]]:
        taken, self.entries = self.entries, []
        return taken


_LIVE = _ThreadEntries()

# plan key -> [live owners, every handle persisted under the key]
_OWNERS: dict[int, list] = {}
_OWNERS_LOCK = threading.Lock()


def _cache_state(df: DataFrame) -> str:
    """'loaded' (buffers built — safe to release), 'pending' (cached but
    never computed — releasing would re-expose the re-sample hazard), or
    'gone' (already uncached by someone else). Introspection failure
    degrades to 'loaded' (= the pre-deferral behavior: release now)."""
    try:
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        cached = cm.lookupCachedData(df._jdf)
        if cached.isEmpty():
            return "gone"
        builder = cached.get().cachedRepresentation().cacheBuilder()
        return "loaded" if builder.isCachedColumnBuffersLoaded() else "pending"
    except Exception:
        return "loaded"


class _OwnedPersist:
    """Release hook for one tracked persist: drops this owner of the
    plan's cache entry and unpersists once no owner is left (see module
    docstring). Taking ownership BEFORE the persist, and unpersisting
    under the same lock, keeps a concurrent equal persist from landing
    on an entry that is about to be dropped."""

    def __init__(self, df: DataFrame):
        self._key = df.semanticHash()
        with _OWNERS_LOCK:
            owners = _OWNERS.setdefault(self._key, [0, []])
            owners[0] += 1
            owners[1].append(df)
        self._df = df.persist()

    def __call__(self) -> None:
        with _OWNERS_LOCK:
            owners = _OWNERS[self._key]
            owners[0] -= 1
            if owners[0] == 0:
                del _OWNERS[self._key]
                for df in owners[1]:
                    df.unpersist()


class _DeferredRelease(_OwnedPersist):
    """Release hook for a correctness-bearing persist: a release cycle
    re-defers it while its cached buffers are still unbuilt (see module
    docstring)."""


def tracked_persist(df: DataFrame, correctness_bearing: bool = False) -> DataFrame:
    """persist() a query-internal intermediate, registering it for release
    when the NEXT registered query starts on this thread.
    ``correctness_bearing=True`` defers the release until the block was
    actually computed (see module docstring) — pass it whenever a
    recompute would NOT reproduce the cached result bit-for-bit (sampled
    range bounds, nondeterministic ids)."""
    entry = (_DeferredRelease if correctness_bearing else _OwnedPersist)(df)
    _LIVE.append(entry)
    # Contract boundary (round-10 self-review): deferral protects the
    # never-materialized direction only. Once the buffers were built AND
    # a later registered query's start released them, a FURTHER action on
    # the earlier query's still-held DataFrame recomputes from scratch —
    # for a sampled range exchange that means freshly-sampled bounds and
    # silently different ranks. The engine's own consumers never do this
    # (the driver, bench, and the facade build a fresh DataFrame per
    # invocation); external callers must re-invoke the query function
    # instead of re-collecting a stale handle across query boundaries.
    return entry._df


def tracked_release(unpersist_fn: Callable[[], None]) -> None:
    """Register an arbitrary cleanup for the next release cycle — used for
    blocks the DataFrame API cannot unpersist itself (localCheckpoint
    RDDs: `catalog.clearCache` only drops InMemoryRelations, so an
    iterative query's final checkpoint would otherwise outlive it)."""
    _LIVE.append(unpersist_fn)


def _release(entries: list[Callable[[], None]], defer: bool) -> None:
    for fn in entries:
        if (
            defer
            and isinstance(fn, _DeferredRelease)
            and _cache_state(fn._df) == "pending"
        ):
            _LIVE.append(fn)
            continue
        try:
            fn()
        except Exception:
            pass  # session already stopped — blocks died with it


def release_tracked() -> None:
    """Run one release cycle over the calling thread's tracked
    intermediates from prior query invocations. Deferred
    (correctness-bearing) entries whose blocks were never computed
    re-register on this thread for the next cycle instead of releasing —
    the take-then-release shape lets them append to the fresh list
    without being re-invoked this cycle."""
    _release(_LIVE.take(), defer=True)


@contextmanager
def scope(keep: bool = True):
    """Run a block with its own tracked entries, apart from the calling
    thread's earlier ones. On exit the block's entries join the thread's
    list for the next cycle if ``keep`` holds and the block returned;
    otherwise they are released now, pending ones too, since nothing
    will collect the block's DataFrame."""
    outer = _LIVE.take()
    kept = False
    try:
        yield
        kept = keep
    finally:
        inner = _LIVE.take()
        _LIVE.entries = outer
        if kept:
            _LIVE.entries.extend(inner)
        else:
            _release(inner, defer=False)
