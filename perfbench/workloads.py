"""The benchmark's named workloads.

`llm_pipeline` is a fixed list of registered queries at one scale factor;
a pass builds every query through `registry.queries()` and materializes
it through the noop sink, one after another, in an order drawn from the
run's seed. `http_dashboard` is a fixed bag of requests against the
in-process `QueryHTTPServer`; each pass shuffles the bag with the seed
and deals it to the client threads.

The query list is a subset of the 18 LLM/iterative headline queries: a
pass of the full list takes about 20 s at sf0.01 and 25 s at sf0.1 on a
4-core host, on top of the JVM start and the cold warm-up pass every run
pays. The kept queries are the ones the open performance work acts on:
BFS driver gaps (graph), pair-space pruning (dedup_prefix_filter,
text_span_dedup) and the PQ codebook memo (similarity).
`graph_kcore_decomposition` would not qualify anyway: it is not
oracle-MATCH on the benchmark fixture (min_core_degree 3 vs 2).
"""

from __future__ import annotations

from dataclasses import dataclass

GET, POST = "GET", "POST"

# GET /tasks/<oid>: the task id the reference fixture model's detail
# query serves (plans/reference_model.py)
TASK_DETAIL_PATH = "/tasks/6f700379d78b358cd6a9ed3e"
TASK_DETAIL_QUERY = "ref_task_detail"

_GET_ROUTES = (
    "/buyer/home",
    "/api/worker/home",
    "/top-workers",
    "/api/notifications",
    "/payments",
    "/api/buyer/pending-submissions",
    "/admin/withdrawals",
    "/api/all-tasks",
    "/submissions",
    "/admin/home",
    "/admin/tasks/oversubscribed",
    "/admin/users",
    "/users/profile",
    "/buyer/tasks",
    "/worker/tasks",
    "/admin/stats",
    "/buyer/submissions",
    "/api/buyer/stats",
    "/buyer-tasks",
    TASK_DETAIL_PATH,
)
_POST_ROUTES = (
    "/buyer/submissions/approve",
    "/tasks",
    "/admin/withdrawals/approve",
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...] = ()
    requests: tuple[tuple[str, str], ...] = ()
    clients: int = 1
    # timed passes per run even when one pass outlasts --seconds
    min_passes: int = 1

    @property
    def is_http(self) -> bool:
        return bool(self.requests)


WORKLOADS = {
    w.name: w
    for w in (
        # two timed passes even on a slow host, so wall_s is always the
        # median of the same number of passes
        Workload(
            "llm_pipeline",
            0.01,
            queries=(
                "dedup_prefix_filter",
                "text_span_dedup",
                "similarity_pq_adc",
                "graph_bfs_3hop",
            ),
            min_passes=2,
        ),
        # every route once per pass: the 19 route-table GETs, GET
        # /tasks/<oid> and the three POST write folds (13% POST); 4
        # closed-loop clients, no think time
        Workload(
            "http_dashboard",
            0.01,
            requests=tuple((GET, p) for p in _GET_ROUTES)
            + tuple((POST, p) for p in _POST_ROUTES),
            clients=4,
            min_passes=2,
        ),
    )
}

# operator modules the workloads touch (leaf of QuerySpec.fn.__module__);
# each gets the per-module trace metrics
MODULES = ("dedup", "spans", "similarity", "graph", "lifecycle", "reference_model")


def smoke(w: Workload) -> Workload:
    """The same workload at sf0.001 with a tiny pass, for the
    benchmark's own smoke test."""
    requests = w.requests
    if requests:
        requests = requests[:2] + tuple(r for r in requests if r[0] == POST)[:1]
    return Workload(w.name, 0.001, w.queries[:2], requests, w.clients, w.min_passes)
