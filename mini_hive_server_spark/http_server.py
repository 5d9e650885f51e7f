"""Read-only HTTP facade over the query registry — the REST half of the
reference's server surface.

The reference is an Express REST server (``/root/reference/index.js``,
~35 routes over MongoDB); the engine's primary serving surface is the
HiveThriftServer2 JDBC endpoint (`server.py`). This module completes the
parity story with a thin stdlib ``http.server`` layer that maps the
reference's READ routes — dashboards, queues, listings — to the
registered queries that already reimplement their semantics (and are
already oracle-gated by the driver). No new dependencies, no new query
code: a route is a name lookup into ``registry.queries()`` plus JSON
row serialization of the collected result.

Route map (reference citation → registered query):

=========================================  ==============================
``GET /buyer/home``         index.js:542   ``buyer_home_dashboard``
``GET /api/worker/home``    index.js:325   ``worker_home_stats``
``GET /top-workers``        index.js:1237  ``ref_top_workers``
``GET /api/notifications``  index.js:226   ``ref_notifications_feed``
``GET /payments``           index.js:427   ``ref_buyer_payment_history``
``GET /api/buyer/pending-submissions``
                            index.js:940   ``ref_buyer_pending_review``
``GET /admin/withdrawals``  index.js:1099  ``ref_withdrawal_queue``
``GET /api/all-tasks``      index.js:532   ``ref_open_tasks_listing``
``GET /submissions``        index.js:1001  ``ref_worker_submission_page``
``GET /admin/home``         index.js:1200  ``ref_admin_platform_stats``
``GET /admin/tasks/oversubscribed``
                            index.js:821   ``ref_oversubscribed_tasks``
``GET /admin/users``        index.js:1112  ``ref_users_admin_list``
``GET /users/profile``      index.js:413   ``ref_user_profile``
``GET /buyer/tasks``        index.js:517   ``ref_buyer_tasks``
``GET /worker/tasks``       index.js:1034  ``ref_worker_open_tasks``
``GET /tasks/:id``          index.js:1017  ``ref_task_detail``
``GET /admin/stats``        index.js:1375  ``ref_admin_stats``
``GET /buyer/submissions``  index.js:778   ``ref_buyer_submissions``
``GET /api/buyer/stats``    index.js:593   ``ref_buyer_stats``
``GET /buyer-tasks``        index.js:632   ``ref_buyer_tasks_all``
=========================================  ==============================

Every reference READ route whose handler is a query is mapped; the
unmapped remainder of index.js is auth middleware, Stripe side-effects,
and duplicate route registrations.

Design notes:

* **Collect is correct here.** Every mapped query is a dashboard
  aggregate, a top-k, or a bounded queue listing — row counts are fixed
  or capped by construction (the registry's own scale audit), so
  serializing the collected result is serving, not a driver-side
  anti-pattern. Corpus-scale relations are never routed.
* **Requests run concurrently.** Every request is served on its own
  handler thread, with no lock around query execution. The tracked
  persist release cycle is per thread (persistence.py), so one
  request's build never releases blocks another request is collecting,
  and equal plans persisted by two requests share one owner-counted
  cache entry. `collect_route_rows` runs each invocation in its own
  persistence scope and releases all of it, pending blocks included,
  once the rows are serialized: the request's DataFrame is discarded,
  so nothing is left to protect and the handler thread leaves nothing
  behind.
* **Each route is built once per session and executed per request.**
  `collect_route_rows` keeps a route's built DataFrame in
  ``catalog.session_memo(spark, "routes")`` and serves every request
  from ``df.select("*")``: a NEW QueryExecution, so each request is
  still optimized, planned and executed in full, and only the Python
  and py4j build is skipped. The memoized DataFrame itself is never
  collected: re-executing one QueryExecution replays its materialized
  AQE stages, which would be result caching.

  - *Key:* (query name, ``sf_dir``) plus every conf analysis binds,
    ``spark.sql.ansi.enabled`` and ``spark.sql.session.timeZone``. An
    entry is stored under the values read after its build and looked
    up under the values of the request, so a request under any other
    value builds fresh, with the build's own conf writes
    (``load_tables`` re-pins UTC), exactly as an unmemoized request
    would.
  - *Eligibility:* a route is memoized only if its build registered no
    tracked persist (the request's persistence scope is still empty
    after the build). A route that does is built fresh per request and
    its blocks are released when the request ends.
  - *Invalidation:* the entry records the ``fixtures.reference_table``
    copies that were persisted when it was built. If an external
    ``clearCache()`` has dropped any of them (``storageLevel`` NONE),
    the route is rebuilt from a fresh plan, which re-persists the
    copies it reads; serving the old plan would re-run their md5
    synthesis on every later request.
* **Auth is out of scope** — the reference's Firebase-token middleware
  (``verifyFBToken``, index.js:60-80) is identity plumbing, not query
  semantics; the facade serves the already-synthesized multi-tenant
  rows the `ref_*` queries filter.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from . import persistence, registry
from .catalog import session_memo

ROUTES: dict[str, str] = {
    "/buyer/home": "buyer_home_dashboard",  # index.js:542
    "/api/worker/home": "worker_home_stats",  # index.js:325
    "/top-workers": "ref_top_workers",  # index.js:1237
    "/api/notifications": "ref_notifications_feed",  # index.js:226
    "/payments": "ref_buyer_payment_history",  # index.js:427
    "/api/buyer/pending-submissions": "ref_buyer_pending_review",  # index.js:940
    "/admin/withdrawals": "ref_withdrawal_queue",  # index.js:1099
    "/api/all-tasks": "ref_open_tasks_listing",  # index.js:532
    "/submissions": "ref_worker_submission_page",  # index.js:1001
    "/admin/home": "ref_admin_platform_stats",  # index.js:1200
    "/admin/tasks/oversubscribed": "ref_oversubscribed_tasks",  # index.js:821
    "/admin/users": "ref_users_admin_list",  # index.js:1112
    "/users/profile": "ref_user_profile",  # index.js:413
    "/buyer/tasks": "ref_buyer_tasks",  # index.js:517
    "/worker/tasks": "ref_worker_open_tasks",  # index.js:1034
    "/admin/stats": "ref_admin_stats",  # index.js:1375
    "/buyer/submissions": "ref_buyer_submissions",  # index.js:778
    "/api/buyer/stats": "ref_buyer_stats",  # index.js:593
    "/buyer-tasks": "ref_buyer_tasks_all",  # index.js:632
    # GET /tasks/<oid> (index.js:1017) is handled as a path-parameter
    # route in do_GET: the synthesized fixture's detail oid serves
    # ref_task_detail; any other oid gets the reference's 404 body.
}

# the one path-parameter route: GET /tasks/:id -> findOne({_id})
_TASK_DETAIL_QUERY = "ref_task_detail"

# WRITE lifecycles, exposed as POST: each runs the registered batch fold
# that replays the reference's mutation endpoint over the synthesized
# collections and returns the post-image audit rows (per-worker/buyer
# ledgers, approval census). The fold itself is pure dataflow — durable
# mutation in this engine goes through the parquet sinks
# (operators/mutations.py); these routes serve the endpoint SEMANTICS.
POST_ROUTES: dict[str, str] = {
    "/buyer/submissions/approve": "ref_approve_submission_batch",  # index.js:799
    "/tasks": "ref_post_task_batch",  # index.js:443
    "/admin/withdrawals/approve": "ref_approve_withdrawal_batch",  # index.js:1336
}

# POST bodies are drained and discarded (the write folds take their
# inputs from the fixture model) — cap the drain so a client declaring
# a multi-GB Content-Length can't pin a handler thread
_MAX_POST_BODY = 4 * 1024 * 1024


def _jsonable(v):
    """Row value → JSON-safe value, type-faithfully: Decimal renders as
    its exact decimal string (never a float round-trip), timestamps as
    ISO-8601. The registry's determinism rules mean mapped queries emit
    pre-rounded/stringified values anyway; this is the safety net."""
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float) and not math.isfinite(v):
        # json.dumps would emit NaN/Infinity literals — INVALID JSON that
        # browsers/jq reject with a 200 status. Express's JSON.stringify
        # renders them as null; the facade mirrors that.
        return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return v


def _route_key(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    conf = spark.conf
    return (
        name,
        sf_dir,
        conf.get("spark.sql.ansi.enabled"),
        conf.get("spark.sql.session.timeZone"),
    )


def _route_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The DataFrame one request collects: a new QueryExecution over the
    route's memoized build, or a fresh build (module design notes).
    Runs inside the request's persistence scope."""
    memo = session_memo(spark, "routes")
    hit = memo.get(_route_key(spark, sf_dir, name))
    if hit is not None:
        df, held = hit
        if all(c.storageLevel != StorageLevel.NONE for c in held):
            return df.select("*")
    df = registry.queries()[name](spark, sf_dir)
    if len(persistence._LIVE):
        return df
    held = [
        c
        for c in session_memo(spark, "reference_tables").values()
        if c.storageLevel != StorageLevel.NONE
    ]
    memo[_route_key(spark, sf_dir, name)] = (df, held)
    return df.select("*")


def collect_route_rows(
    spark: SparkSession, sf_dir: str, name: str
) -> list[dict]:
    """Run registered query ``name`` and return its rows as JSON-safe
    dicts (explicit ``None`` for NULLs — unlike ``df.toJSON()``, which
    silently drops null fields). The blocks the invocation persisted are
    released before returning (see the module's design notes)."""
    with persistence.scope(keep=False):
        return [
            {k: _jsonable(v) for k, v in row.asDict(recursive=True).items()}
            for row in _route_df(spark, sf_dir, name).collect()
        ]


class QueryHTTPServer:
    """Threaded HTTP server bound to 127.0.0.1; ``port=0`` picks a free
    port (exposed as ``.port``). Runs until ``.shutdown()``."""

    def __init__(self, spark: SparkSession, sf_dir: str, port: int = 0):
        class Handler(BaseHTTPRequestHandler):
            # socket timeout: bounds BLOCKING reads (request line, headers,
            # the POST body drain) so a trickling client can't pin a
            # handler thread in TIME the way the byte cap bounds it in
            # VOLUME. Long Spark queries are unaffected: they never block
            # on the socket.
            timeout = 30

            def log_message(self, fmt, *args):  # quiet pytest output
                pass

            def _reply(self, code: int, payload) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:
                path = urlparse(self.path).path.rstrip("/") or "/"
                if path == "/health":
                    self._reply(200, {"status": "ok"})
                    return
                if path == "/routes":
                    self._reply(200, ROUTES)
                    return
                if path.startswith("/tasks/"):
                    # path-parameter route (index.js:1017): serve the task
                    # document for the fixture oid, the reference's 404
                    # body for any other id (findOne miss)
                    from .plans.reference_model import _TASK_DETAIL_OID

                    if path == f"/tasks/{_TASK_DETAIL_OID}":
                        self._run(_TASK_DETAIL_QUERY, single=True)
                    else:
                        self._reply(404, {"message": "Task not found"})
                    return
                name = ROUTES.get(path)
                if name is None:
                    self._reply(404, {"message": "no such route"})
                    return
                self._run(name)

            def do_POST(self) -> None:
                # drain the request body BEFORE replying: closing the
                # socket with Content-Length bytes unread resets the
                # connection under the client mid-write for any body
                # larger than the socket buffer; the mapped write folds
                # take their inputs from the fixture model, so the body
                # is drained, not parsed
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                except ValueError:
                    n = 0
                refused = False
                if n > _MAX_POST_BODY:
                    # the body is discarded anyway — don't let a huge (or
                    # slowly trickled) declared length pin this handler
                    # thread; refuse, then drain a BOUNDED amount so an
                    # honest in-flight sender can still read the 413
                    # (replying and closing with the whole body unread
                    # RSTs the buffered response out from under a client
                    # mid-write, as the drain comment above says; the
                    # reply goes out FIRST so even a >cap remainder leaves
                    # the client a window to read it)
                    self.close_connection = True
                    refused = True
                    self._reply(413, {"message": "request body too large"})
                    try:
                        self.wfile.flush()
                    except OSError:
                        pass
                    n = _MAX_POST_BODY  # bounded post-reply drain
                    # the courtesy drain rides a SHORT deadline, not the
                    # 30 s request timeout: an honest client that declared
                    # a huge Content-Length but sent a short body would
                    # otherwise block this thread in rfile.read() for the
                    # full socket timeout per refused request. The
                    # connection is closing anyway — per-read
                    # timeout AND a wall deadline (a trickler paying 1
                    # byte per read would otherwise extend chunk-by-chunk)
                    try:
                        self.connection.settimeout(2.0)
                    except OSError:
                        pass
                import time as _time

                deadline = _time.monotonic() + 5.0 if refused else None
                while n > 0:
                    if deadline is not None and _time.monotonic() > deadline:
                        self.close_connection = True
                        return
                    try:
                        chunk = self.rfile.read(min(n, 65536))
                    except OSError:  # incl. socket timeout mid-trickle
                        self.close_connection = True
                        return
                    if not chunk:
                        break
                    n -= len(chunk)
                if refused:
                    return  # 413 already sent; bounded drain done
                path = urlparse(self.path).path.rstrip("/") or "/"
                name = POST_ROUTES.get(path)
                if name is None:
                    self._reply(404, {"message": "no such route"})
                    return
                self._run(name)

            def _run(self, name: str, single: bool = False) -> None:
                try:
                    rows = collect_route_rows(spark, sf_dir, name)
                except Exception as e:  # surface, don't crash the server
                    self._reply(
                        500, {"message": f"{type(e).__name__}: {e}"}
                    )
                    return
                if single:
                    # findOne-shaped route: one document, not a list
                    if not rows:
                        self._reply(404, {"message": "Task not found"})
                        return
                    self._reply(200, rows[0])
                    return
                self._reply(200, rows)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)


def main() -> None:
    """Standalone entry: serve the facade on $MHS_HTTP_PORT (default
    8815) over $SPARK_GRAFT_SF_DIR (default sf0.01) until interrupted."""
    import os
    import time

    from .session import get_spark

    spark = get_spark(app_name="mhs-http")
    srv = QueryHTTPServer(
        spark,
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        port=int(os.environ.get("MHS_HTTP_PORT", "8815")),
    )
    print(f"serving {len(ROUTES)} routes on http://127.0.0.1:{srv.port}")
    try:
        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        srv.shutdown()


if __name__ == "__main__":
    main()
