"""The HTTP facade serves each mapped route's rows equal to the DuckDB
oracle of the registered query behind it (VERDICT r6 item 4: curl each
route, match the oracle output) — end-to-end through a real TCP socket,
JSON on the wire."""

from __future__ import annotations

import datetime
import decimal
import json
import urllib.error
import urllib.request

import pytest

from pyspark.storagelevel import StorageLevel

from mini_hive_server_spark import http_server as http_mod
from mini_hive_server_spark import persistence, registry
from mini_hive_server_spark.catalog import session_memo
from mini_hive_server_spark.http_server import (
    POST_ROUTES,
    ROUTES,
    QueryHTTPServer,
    _jsonable,
    collect_route_rows,
)

from .conftest import SF_ORACLE
from .oracle_harness import run_duckdb_oracle


@pytest.fixture(scope="module")
def http_server(spark):
    srv = QueryHTTPServer(spark, SF_ORACLE, port=0)
    yield srv
    srv.shutdown()


def _get(srv: QueryHTTPServer, path: str):
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}{path}", timeout=120
    ) as resp:
        return resp.status, json.loads(resp.read())


def _canon(v) -> str:
    """Unify JSON-on-the-wire values with DuckDB-fetched Python values:
    numerics (including numeric-looking strings — the facade renders
    Decimal as its exact decimal string) collapse to a shortest-float
    form, temporals to ISO strings."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (int, float, decimal.Decimal)) or (
        isinstance(v, str)
        and v
        and v.replace(".", "", 1).replace("-", "", 1).isdigit()
    ):
        f = float(v)
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    return str(v)


def _canon_rows(rows: list[dict]) -> list[tuple[str, ...]]:
    return sorted(
        tuple(_canon(r[k]) for k in sorted(r)) for r in rows
    )


def test_health_and_route_index(http_server):
    status, body = _get(http_server, "/health")
    assert (status, body) == (200, {"status": "ok"})
    status, body = _get(http_server, "/routes")
    assert status == 200 and body == ROUTES


def test_unknown_route_is_404(http_server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(http_server, "/no/such/route")
    assert ei.value.code == 404


@pytest.mark.parametrize("path", sorted(ROUTES))
def test_route_matches_registered_query_oracle(http_server, path):
    name = ROUTES[path]
    spec = registry.all_specs()[name]
    assert spec.oracle, f"{name}: routed queries must be oracle-paired"

    status, got = _get(http_server, path)
    assert status == 200
    assert isinstance(got, list) and got, f"{path}: empty result"

    expected = run_duckdb_oracle(spec.oracle, SF_ORACLE).to_pylist()
    assert sorted(got[0]) == sorted(expected[0]), f"{path}: column drift"
    assert _canon_rows(got) == _canon_rows(expected), path


def test_task_detail_path_param_route(http_server):
    """GET /tasks/:id (index.js:1017) — the one path-parameter route:
    the fixture oid returns the single task DOCUMENT (not a list, the
    findOne shape), any other oid returns the reference's 404 body."""
    from mini_hive_server_spark.plans.reference_model import _TASK_DETAIL_OID

    spec = registry.all_specs()["ref_task_detail"]
    status, got = _get(http_server, f"/tasks/{_TASK_DETAIL_OID}")
    assert status == 200 and isinstance(got, dict), "findOne returns a doc"
    expected = run_duckdb_oracle(spec.oracle, SF_ORACLE).to_pylist()
    assert len(expected) == 1
    assert _canon_rows([got]) == _canon_rows(expected)


def test_task_detail_unknown_oid_is_404(http_server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(http_server, "/tasks/deadbeefdeadbeefdeadbeef")
    assert ei.value.code == 404
    assert json.loads(ei.value.read()) == {"message": "Task not found"}


def _post(srv: QueryHTTPServer, path: str):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=b"{}", method="POST"
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


@pytest.mark.parametrize("path", sorted(POST_ROUTES))
def test_post_route_matches_write_lifecycle_oracle(http_server, path):
    """The POST routes replay the reference's WRITE endpoints as batch
    folds; the response must equal the registered fold's DuckDB oracle."""
    name = POST_ROUTES[path]
    spec = registry.all_specs()[name]
    status, got = _post(http_server, path)
    assert status == 200 and isinstance(got, list) and got, path
    expected = run_duckdb_oracle(spec.oracle, SF_ORACLE).to_pylist()
    assert _canon_rows(got) == _canon_rows(expected), path


def test_post_to_read_route_is_404(http_server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(http_server, "/buyer/home")
    assert ei.value.code == 404


def test_post_huge_declared_body_is_413_without_drain(http_server):
    """A client declaring a multi-GB Content-Length (while sending
    almost nothing) must get an immediate 413, not pin a handler thread
    draining bytes that will never arrive (ADVICE r10 #3). The short
    urlopen timeout doubles as the no-pin proof: the old drain loop
    would block on rfile.read until the client timeout."""
    path = sorted(POST_ROUTES)[0]
    req = urllib.request.Request(
        f"http://127.0.0.1:{http_server.port}{path}",
        data=b"{}",
        method="POST",
    )
    # lie about the length AFTER urllib computed it from `data`
    req.add_header("Content-Length", str(8 * 1024 * 1024 * 1024))
    with pytest.raises(urllib.error.HTTPError) as ei:
        with urllib.request.urlopen(req, timeout=10):
            pass
    assert ei.value.code == 413
    assert json.loads(ei.value.read()) == {
        "message": "request body too large"
    }


def test_refused_drain_releases_connection_quickly(http_server):
    """After the 413 reply, the courtesy drain must ride a SHORT deadline:
    an honest client that declared a huge Content-Length but sent a short
    body must not pin the handler thread in rfile.read() for the full 30 s
    socket timeout (ADVICE r11). Proof: the server closes the connection
    within seconds of the refusal, not at the request timeout."""
    import socket
    import time

    path = sorted(POST_ROUTES)[0]
    s = socket.create_connection(("127.0.0.1", http_server.port), timeout=20)
    try:
        s.sendall(
            f"POST {path} HTTP/1.1\r\nHost: x\r\n"
            "Content-Length: 9000000000\r\n\r\n".encode() + b"xx"
        )
        s.settimeout(20)
        t0 = time.monotonic()
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = s.recv(65536)
            if not chunk:
                break
            buf += chunk
        assert b" 413 " in buf, buf[:200]
        # then: server-side close well before the 30 s request timeout
        while True:
            chunk = s.recv(65536)
            if not chunk:
                break
        assert time.monotonic() - t0 < 15
    finally:
        s.close()


def test_requests_are_served_concurrently(http_server, monkeypatch):
    """The facade holds no lock around query execution: a request whose
    collect blocks until a SECOND request has completed must finish. A
    facade that serves one query at a time would hold the first request
    until its bounded wait times out (500) before starting the second."""
    import threading

    first_path, second_path = "/buyer/home", "/top-workers"
    first_started, second_done = threading.Event(), threading.Event()

    def fake_collect(spark, sf_dir, name):
        if name == ROUTES[first_path]:
            first_started.set()
            if not second_done.wait(timeout=20):
                raise TimeoutError("requests did not overlap")
            return [{"request": 1}]
        second_done.set()
        return [{"request": 2}]

    monkeypatch.setattr(http_mod, "collect_route_rows", fake_collect)
    first: dict = {}

    def send_first():
        try:
            first["reply"] = _get(http_server, first_path)
        except urllib.error.HTTPError as e:
            first["reply"] = (e.code, json.loads(e.read()))

    t = threading.Thread(target=send_first)
    t.start()
    assert first_started.wait(timeout=20), "first request never started"
    assert _get(http_server, second_path) == (200, [{"request": 2}])
    t.join(timeout=30)
    assert first.get("reply") == (200, [{"request": 1}])


def _canon_body(body) -> list[str]:
    """A response body (row list or single document), order-insensitive."""
    rows = body if isinstance(body, list) else [body]
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def test_concurrent_clients_get_sequential_bodies(http_server, spark):
    """4 client threads send every GET and POST route at once; every body
    equals what a sequential `collect_route_rows` returns for the route
    (order-insensitive, through the same JSON encoding)."""
    from concurrent.futures import ThreadPoolExecutor

    from mini_hive_server_spark.plans.reference_model import _TASK_DETAIL_OID

    requests = [("GET", p, n) for p, n in ROUTES.items()]
    requests.append(("GET", f"/tasks/{_TASK_DETAIL_OID}", "ref_task_detail"))
    requests += [("POST", p, n) for p, n in POST_ROUTES.items()]
    expected = {
        path: _canon_body(json.loads(json.dumps(collect_route_rows(spark, SF_ORACLE, name))))
        for _, path, name in requests
    }

    def send(request):
        method, path, _ = request
        status, body = (_get if method == "GET" else _post)(http_server, path)
        return path, status, _canon_body(body)

    with ThreadPoolExecutor(max_workers=4) as pool:
        replies = list(pool.map(send, requests))
    assert len(replies) == len(requests)
    for path, status, body in replies:
        assert status == 200, path
        assert body == expected[path], path


# every query the facade serves: the route table, the write folds and
# the GET /tasks/:id detail document
_FACADE_QUERIES = sorted(
    {*ROUTES.values(), *POST_ROUTES.values(), http_mod._TASK_DETAIL_QUERY}
)
_MEMO_ROUTE = ROUTES["/admin/home"]


def _count_builds(monkeypatch) -> list[str]:
    """From now on, record the name of every registered query function
    that `registry.queries()` hands out and that is called."""
    calls: list[str] = []
    queries = registry.queries

    def counted(name, fn):
        def build(spark, sf_dir):
            calls.append(name)
            return fn(spark, sf_dir)

        return build

    monkeypatch.setattr(
        registry,
        "queries",
        lambda: {n: counted(n, fn) for n, fn in queries().items()},
    )
    return calls


def _fresh_rows(spark, name: str) -> list[dict]:
    """The query's rows from a build that bypasses the facade's memo."""
    with persistence.scope(keep=False):
        df = registry.queries()[name](spark, SF_ORACLE)
        return [
            {k: _jsonable(v) for k, v in r.asDict(recursive=True).items()}
            for r in df.collect()
        ]


def test_warm_route_is_not_rebuilt_and_equals_a_fresh_build(
    spark, monkeypatch
):
    collect_route_rows(spark, SF_ORACLE, _MEMO_ROUTE)
    fresh = _fresh_rows(spark, _MEMO_ROUTE)
    calls = _count_builds(monkeypatch)
    warm = collect_route_rows(spark, SF_ORACLE, _MEMO_ROUTE)
    assert calls == []
    assert _canon_body(warm) == _canon_body(fresh)


def test_ansi_flip_rebuilds_route(spark, monkeypatch):
    """ANSI mode is bound at analysis, so a memoized plan built under
    one value must not serve the other."""
    collect_route_rows(spark, SF_ORACLE, _MEMO_ROUTE)
    calls = _count_builds(monkeypatch)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set(
            "spark.sql.ansi.enabled", "false" if ansi == "true" else "true"
        )
        flipped = collect_route_rows(spark, SF_ORACLE, _MEMO_ROUTE)
        assert calls == [_MEMO_ROUTE]
        collect_route_rows(spark, SF_ORACLE, _MEMO_ROUTE)
        assert calls == [_MEMO_ROUTE], "the flipped conf's entry is warm"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    back = collect_route_rows(spark, SF_ORACLE, _MEMO_ROUTE)
    assert calls == [_MEMO_ROUTE], "the original conf's entry stays warm"
    assert _canon_body(flipped) == _canon_body(back)


def test_zone_flip_serves_warm_route_with_identical_body(spark, monkeypatch):
    """Timestamps are bound zone-free, so the session zone is not in the
    route key: a request under another zone is served from the warm
    route with an identical body, and the zone stays as the caller set
    it. The route renders synthesized timestamps."""
    route = ROUTES["/submissions"]
    zone = "spark.sql.session.timeZone"
    before = collect_route_rows(spark, SF_ORACLE, route)
    original = spark.conf.get(zone)
    calls = _count_builds(monkeypatch)
    try:
        spark.conf.set(zone, "America/New_York")
        flipped = collect_route_rows(spark, SF_ORACLE, route)
        assert calls == []
        assert spark.conf.get(zone) == "America/New_York"
    finally:
        spark.conf.set(zone, original)
    assert _canon_body(flipped) == _canon_body(before)


def test_clear_cache_rebuilds_route_and_repersists_its_inputs(
    spark, monkeypatch
):
    """After an external clearCache() drops the held reference copies,
    the route is rebuilt from a fresh plan (which persists the copies
    again) instead of serving a plan that re-synthesizes them."""
    before = collect_route_rows(spark, SF_ORACLE, _MEMO_ROUTE)
    key = http_mod._route_key(spark, SF_ORACLE, _MEMO_ROUTE)
    _, held = session_memo(spark, "routes")[key]
    assert held, "the route reads synthesized reference collections"
    calls = _count_builds(monkeypatch)
    spark.catalog.clearCache()
    assert all(c.storageLevel == StorageLevel.NONE for c in held)
    after = collect_route_rows(spark, SF_ORACLE, _MEMO_ROUTE)
    assert calls == [_MEMO_ROUTE]
    df, held = session_memo(spark, "routes")[key]
    assert held and all(c.storageLevel != StorageLevel.NONE for c in held)
    cached = df.select("*")._jdf.queryExecution().withCachedData()
    leaves = cached.collectLeaves()
    names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
    assert "InMemoryRelation" in names and "Range" not in names, names
    collect_route_rows(spark, SF_ORACLE, _MEMO_ROUTE)
    assert calls == [_MEMO_ROUTE]
    assert _canon_body(after) == _canon_body(before)


def test_route_with_tracked_persist_is_built_per_request(spark, monkeypatch):
    """A build that registers a tracked persist is never memoized: each
    request builds it afresh and releases its blocks when it ends."""
    from pyspark.sql import functions as F

    name = "route_memo_persisting_probe"
    persisted = []

    def build(spark, sf_dir):
        df = spark.range(7).withColumn("route_memo_sq", F.col("id") * F.col("id"))
        persisted.append(persistence.tracked_persist(df))
        return persisted[-1]

    queries = registry.queries
    monkeypatch.setattr(registry, "queries", lambda: {**queries(), name: build})
    for n in (1, 2):
        rows = collect_route_rows(spark, SF_ORACLE, name)
        assert sorted(r["route_memo_sq"] for r in rows) == [i * i for i in range(7)]
        assert len(persisted) == n
        assert persisted[-1].storageLevel == StorageLevel.NONE
    assert all(k[0] != name for k in session_memo(spark, "routes"))


def test_memo_hit_runs_as_many_jobs_as_a_fresh_build(spark):
    """Serving from the memo skips only the build: every request still
    plans and runs all of its jobs (a re-collected QueryExecution would
    replay its materialized AQE stages and run fewer)."""
    sc = spark.sparkContext
    memo = session_memo(spark, "routes")
    for name in _FACADE_QUERIES:  # warm: memo filled, inputs held
        collect_route_rows(spark, SF_ORACLE, name)
    jobs, bodies = {}, {}
    for arm in ("hit", "fresh"):
        group = f"route-memo-{arm}"
        sc.setJobGroup(group, group)
        try:
            for name in _FACADE_QUERIES:
                if arm == "fresh":
                    memo.pop(http_mod._route_key(spark, SF_ORACLE, name))
                bodies[arm, name] = _canon_body(
                    collect_route_rows(spark, SF_ORACLE, name)
                )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[arm] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["hit"] == jobs["fresh"] > 0, jobs
    for name in _FACADE_QUERIES:
        assert bodies["hit", name] == bodies["fresh", name], name


def test_every_facade_query_builds_without_tracked_persist(spark):
    """The memo's precondition, pinned by name: a facade query that
    starts persisting would silently fall back to a build per request."""
    assert len(_FACADE_QUERIES) == 23
    for name in _FACADE_QUERIES:
        with persistence.scope(keep=False):
            registry.queries()[name](spark, SF_ORACLE)
            assert not len(persistence._LIVE), name


def test_warm_facade_pass_job_budget(spark):
    """A warm serial pass of the 23 facade requests (the benchmark's
    http_dashboard bag: every query in `_FACADE_QUERIES` once) runs at
    most 44 Spark jobs. The held reference copies are one partition, so
    a route over them runs one job plus its broadcasts; copies spread
    over the default parallelism ran 67 jobs on a 4-core host."""
    for name in _FACADE_QUERIES:  # warm: memo filled, inputs held
        collect_route_rows(spark, SF_ORACLE, name)
    sc = spark.sparkContext
    group = "facade-job-budget"
    sc.setJobGroup(group, group)
    try:
        for name in _FACADE_QUERIES:
            collect_route_rows(spark, SF_ORACLE, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= 44, jobs
