#!/usr/bin/env python3
"""The repository benchmark: end-to-end and per-layer timings of the
engine's public entry points on one named workload.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

Run it from the repository root. Each run is one fresh process: it
starts a Spark session on local[<cpus>], binds the catalog (and, for
`http_dashboard`, starts the in-process HTTP server), makes one untimed
warm-up pass whose outputs are checked against the DuckDB oracles (batch)
or kept as the expected response bodies (HTTP), then repeats timed passes
for --seconds seconds (at least the workload's `min_passes`, and three in
a traced run). Session memos (catalog
handles, PQ codebooks, the co-purchase edge cache, tracked persists)
therefore start empty in every run and fill during the warm-up pass.

--trace 0 prints the end-to-end metrics. --trace 1 alternates untraced
and traced passes in a session that also writes a Spark event log, and
prints the per-layer metrics: spans around the registry build, the
materializing action, persistence releases and the HTTP collect, plus
job, stage and task counters and the action's planning time read from
the event log (see tracing.py).

Everything a run writes stays under `.bench_build/` in the checkout:
the fixtures and their cached DuckDB oracle results (built once per
fixture version, see fixtures.py), a per-run scratch directory that
holds Spark's local dirs, the JVM and Python temp dirs, the warehouse
and the event log (removed when the run ends), and `records.jsonl`, one
line per run with its metrics and host-noise record. Host noise is
flagged, never dropped: a run that bench.py's own rule
(`bench.local_record_path`: CPU steal above bench.NOISE_STEAL_FRAC of
wall x CPUs, or load1 above 2 x CPUs) calls noise-suspect is marked in
that record and on stderr. Traced runs also record bench's calibration
probe, taken right after the session starts.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; everything else goes to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# import the benchmark as a package from the checkout root, not its
# modules from the script directory
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from perfbench.fixtures import ensure_fixture, oracle_cache_dir  # noqa: E402
from perfbench.tracing import COUNTERS, Tracer, job_description, job_seconds, read_event_log  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    MODULES,
    POST,
    TASK_DETAIL_PATH,
    TASK_DETAIL_QUERY,
    WORKLOADS,
    smoke,
)

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "throughput_rps": "1/s",
}
_COUNTER_UNITS = {"tasks": "count", "failed_tasks": "count", "task_run_s": "s",
                  "input_mb": "MB", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
                  "spill_mb": "MB", "fetch_wait_s": "s"}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "session.peak_rss_mb": "MB",
        "catalog.load_tables_s": "s",
        "registry.build_s": "s",
        "registry.build_jobs": "count",
        "registry.build_job_s": "s",
        "persistence.release_s": "s",
        "persistence.released_n": "count",
        "persistence.live_rdds_max": "count",
        "plan.s": "s",
        "exec.job_s": "s",
        "exec.gap_s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
    }
    units.update({f"exec.{c}": _COUNTER_UNITS[c] for c in COUNTERS})
    for m in MODULES:
        for k, u in (("wall_s", "s"), ("build_s", "s"), ("job_s", "s"), ("gap_s", "s"), ("shuffle_write_mb", "MB")):
            units[f"{m}.{k}"] = u
    units.update({
        "http_server.collect_s": "s",
        "http_server.wait_s": "s",
        "http_server.rows": "count",
        "http_server.bytes": "count",
        "http_server.latency_p50_ms": "ms",
        "http_server.post_p50_ms": "ms",
        "http_server.requests": "count",
        "host.calibration_s": "s",
        "host.steal_frac": "ratio",
        "host.load1": "count",
        "trace.overhead_frac": "ratio",
        "trace.unattributed_frac": "ratio",
    })
    return units


# --- helpers -------------------------------------------------------------


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def canon(body) -> str:
    """Order-insensitive canonical form of a JSON response body."""
    if isinstance(body, list):
        return json.dumps(sorted(json.dumps(r, sort_keys=True) for r in body))
    return json.dumps(body, sort_keys=True)


class Collected:
    """A collected result in the shape `oracle_harness.compare` reads
    (`toArrow()` and `schema`), so the oracle check reuses the warm-up
    pass's output instead of executing the query again."""

    def __init__(self, table, schema):
        self._table, self.schema = table, schema

    def toArrow(self):
        return self._table


def cached_oracle(run):
    """Memoize DuckDB oracle results on disk, keyed by the oracle SQL, in
    the fixture's own cache directory: a fixture directory is named after
    the generator that wrote it, so a cached result always belongs to the
    data it is compared with, and only the Spark side of each check needs
    recomputing."""
    import hashlib

    import pyarrow as pa

    def wrapper(sql: str, sf_dir: str):
        key = hashlib.sha256(sql.encode()).hexdigest()
        path = os.path.join(oracle_cache_dir(sf_dir), f"{key}.arrow")
        if os.path.exists(path):
            with pa.OSFile(path) as src:
                return pa.ipc.open_file(src).read_all()
        table = run(sql, sf_dir)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with pa.OSFile(tmp, "wb") as sink, pa.ipc.new_file(sink, table.schema) as w:
            w.write_table(table)
        os.replace(tmp, path)
        return table

    return wrapper


@contextmanager
def patched(obj, attr: str, make):
    orig = getattr(obj, attr)
    setattr(obj, attr, make(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


# --- the run ---------------------------------------------------------------


class Run:
    def __init__(self, args, workload, run_dir: str):
        self.args = args
        self.w = workload
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []  # {"traced", "wall", "lat": [...], ...}
        self.invocations: dict[int, dict] = {}  # inv -> {"module", "pass"}
        self.released: dict[int, int] = {}
        self.live_rdds_max = 0
        self.layer: dict[str, float] = {}

    # -- environment -------------------------------------------------------

    def prepare_env(self) -> None:
        for sub in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "local"),
            SPARK_WAREHOUSE_DIR=os.path.join(self.run_dir, "warehouse"),
            SPARK_GRAFT_CPUS=str(cpu_count()),
            SPARK_DRIVER_MEMORY="3g",
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )

    def spark_conf(self) -> dict[str, str]:
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    # -- main flow -----------------------------------------------------------

    def execute(self) -> dict:
        import bench
        from mini_hive_server_spark import catalog, registry
        from mini_hive_server_spark.session import get_spark

        noise_before = bench._noise_context()
        t0 = time.perf_counter()
        sf_dir = ensure_fixture(os.path.join(BUILD, "fixtures"), self.w.sf)
        fixture_s = time.perf_counter() - t0

        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=self.spark_conf())
        self.layer["session.start_s"] = time.perf_counter() - t
        self.spark = spark
        try:
            if self.args.trace:
                # at the start of the run, as bench.py takes it
                t = time.perf_counter()
                self.layer["host.calibration_s"] = bench._calibration_probe(spark)
                probe_s = time.perf_counter() - t
            else:
                probe_s = 0.0
            t = time.perf_counter()
            for df in catalog.load_tables(spark, sf_dir).values():
                df.count()
            self.layer["catalog.load_tables_s"] = time.perf_counter() - t
            self.qs = registry.queries()
            self.sf_dir = sf_dir
            if self.w.is_http:
                from mini_hive_server_spark.http_server import QueryHTTPServer

                self.server = QueryHTTPServer(spark, sf_dir, port=0)
                try:
                    return self._measure(bench, noise_before, fixture_s + probe_s)
                finally:
                    self.server.shutdown()
            return self._measure(bench, noise_before, fixture_s + probe_s)
        finally:
            self._stop_spark()

    def _measure(self, bench, noise_before, excluded_s) -> dict:
        warm = self.warm_up_http if self.w.is_http else self.warm_up_batch
        checks = warm()
        setup_s = time.perf_counter() - T_START - excluded_s
        log(f"setup {setup_s:.3f}s (fixture build and calibration probe {excluded_s:.3f}s excluded)")
        checks()
        run_pass = self.http_pass if self.w.is_http else self.batch_pass
        t_window = time.perf_counter()
        deadline = t_window + self.args.seconds
        while (
            len(self.passes) < self.w.min_passes
            or time.perf_counter() < deadline
            # traced runs alternate untraced, traced, untraced: the trace
            # overhead compares the traced pass with the mean of the two
            # around it, which cancels the warm-up trend between passes
            or (self.args.trace and len(self.passes) < 3)
        ):
            traced = bool(self.args.trace and len(self.passes) % 2 == 1)
            run_pass(traced, len(self.passes))
        window_s = time.perf_counter() - t_window
        if self.args.trace:
            self.layer["session.peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(self._jvm_pid())
        noise_after = bench._noise_context()
        record = self._noise_record(bench, noise_before, noise_after)
        if self.args.trace:
            self._stop_spark()
            metrics = self.per_layer(record)
        else:
            metrics = self.end_to_end(setup_s, window_s)
        self._write_record(metrics, record)
        units = E2E_UNITS if not self.args.trace else per_layer_units()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    # -- batch workloads -----------------------------------------------------

    def warm_up_batch(self):
        collected = {}
        for name in self.w.queries:
            try:
                df = self.qs[name](self.spark, self.sf_dir)
                collected[name] = Collected(df.toArrow(), df.schema)
            except Exception:
                log(f"warm-up {name} failed:\n{traceback.format_exc()}")
                collected[name] = None

        def check():
            from mini_hive_server_spark import registry
            from tests import oracle_harness

            oracles = registry.oracles()
            with patched(oracle_harness, "run_duckdb_oracle", cached_oracle):
                for name, got in collected.items():
                    self.attempted += 1
                    problems = ["warm-up failed"] if got is None else oracle_harness.compare(
                        name, got, oracles[name], self.sf_dir
                    )
                    if problems:
                        self.failed += 1
                        log(f"output check {name}: {problems[:2]}")
            log(f"output check: {len(collected)} queries against DuckDB oracles")

        return check

    def batch_pass(self, traced: bool, index: int) -> None:
        order = self.rng.sample(self.w.queries, len(self.w.queries))
        lat = []
        t_pass = time.perf_counter()
        with self._traced_layers(traced):
            for name in order:
                self.attempted += 1
                t = time.perf_counter()
                try:
                    if traced:
                        self._traced_invocation(name, index)
                    else:
                        self.qs[name](self.spark, self.sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                except Exception:
                    self.failed += 1
                    log(f"{name} failed:\n{traceback.format_exc()}")
                    continue
                lat.append(time.perf_counter() - t)
        self.passes.append({"traced": traced, "wall": time.perf_counter() - t_pass, "lat": lat})

    def _traced_invocation(self, name: str, index: int) -> None:
        inv = self.tracer.new_invocation()
        self.invocations[inv] = {"module": self._module(name), "pass": index}
        with self.tracer.span("invocation", inv):
            df = self._traced_query(self.qs[name])(self.spark, self.sf_dir)
            with self.tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
        self.spark.sparkContext.setJobDescription(None)
        self._note_live_rdds()

    # -- HTTP workload -------------------------------------------------------

    def warm_up_http(self):
        from mini_hive_server_spark import http_server

        names = {**http_server.ROUTES, **http_server.POST_ROUTES, TASK_DETAIL_PATH: TASK_DETAIL_QUERY}
        self.expected = {}
        for _method, path in self.w.requests:
            try:
                rows = http_server.collect_route_rows(self.spark, self.sf_dir, names.get(path))
            except Exception:
                log(f"warm-up {path} failed:\n{traceback.format_exc()}")
                continue
            body = rows[0] if path == TASK_DETAIL_PATH else rows
            self.expected[path] = canon(json.loads(json.dumps(body)))
        return lambda: None

    def _sweep(self) -> tuple[float, list[tuple]]:
        """Send the shuffled request bag from the client threads; return
        the wall time and (method, path, latency, ok, bytes) per request."""
        # deal the POST folds first so no client draws two of them, then
        # the GETs; the seed orders each kind and each client's sequence
        posts = [r for r in self.w.requests if r[0] == POST]
        gets = [r for r in self.w.requests if r[0] != POST]
        self.rng.shuffle(posts)
        self.rng.shuffle(gets)
        bag = posts + gets
        seqs = [bag[i :: self.w.clients] for i in range(self.w.clients)]
        for seq in seqs:
            self.rng.shuffle(seq)
        results: list[tuple] = []
        lock = threading.Lock()
        start = threading.Barrier(len(seqs))

        def client(seq):
            start.wait()
            for method, path in seq:
                conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=170)
                t = time.perf_counter()
                try:
                    conn.request(method, path, body=b"{}" if method == POST else None)
                    resp = conn.getresponse()
                    status, body = resp.status, resp.read()
                except OSError:
                    status, body = 0, b""
                finally:
                    conn.close()
                lat = time.perf_counter() - t
                with lock:
                    results.append((method, path, lat, status, body))

        t_pass = time.perf_counter()
        threads = [threading.Thread(target=client, args=(s,)) for s in seqs]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        wall = time.perf_counter() - t_pass
        # bodies are checked after the sweep, so parsing them does not
        # compete with the server for the interpreter lock
        return wall, [(m, p, lat, self._body_ok(p, st, b), len(b)) for m, p, lat, st, b in results]

    def _body_ok(self, path: str, status: int, body: bytes) -> bool:
        try:
            return 200 <= status < 300 and canon(json.loads(body)) == self.expected.get(path)
        except ValueError:
            return False

    def http_pass(self, traced: bool, index: int) -> None:
        with self._traced_layers(traced, index):
            wall, results = self._sweep()
        self.attempted += len(results)
        bad = [r for r in results if not r[3]]
        self.failed += len(bad)
        for r in bad:
            log(f"request {r[0]} {r[1]} failed or returned a wrong body")
        self.passes.append({
            "traced": traced,
            "wall": wall,
            "lat": [r[2] for r in results if r[3]],
            "post_lat": [r[2] for r in results if r[3] and r[0] == POST],
            "client_s": sum(r[2] for r in results if r[3]),
            "bytes": sum(r[4] for r in results),
        })

    # -- tracing ---------------------------------------------------------------

    def _module(self, name: str) -> str:
        from mini_hive_server_spark import registry

        return registry.all_specs()[name].fn.__module__.rsplit(".", 1)[-1]

    def _traced_query(self, fn):
        """Wrap a registered query: span and label its build, and label
        the jobs and SQL executions that follow as the materializing
        action's. The action plans its own QueryExecution (a noop write
        plans the write command afresh), so planning is not forced here:
        its time is read from the action's SQL execution in the event log."""
        sc = self.spark.sparkContext
        tracer = self.tracer

        def call(spark, sf_dir):
            inv = tracer.current.inv
            sc.setJobDescription(job_description(inv, "build"))
            with tracer.span("registry.build"):
                df = fn(spark, sf_dir)
            sc.setJobDescription(job_description(inv, "exec"))
            return df

        return call

    @contextmanager
    def _traced_layers(self, traced: bool, index: int = 0):
        if not traced:
            yield
            return
        from mini_hive_server_spark import http_server, persistence, registry

        tracer = self.tracer

        def release(orig):
            def wrapper():
                if tracer.current is None:
                    return orig()
                n = len(getattr(persistence, "_LIVE", ()))
                with tracer.span("persistence.release") as s:
                    orig()
                self.released[s.inv] = self.released.get(s.inv, 0) + n

            return wrapper

        def queries(orig):
            return lambda: {n: self._traced_query(fn) for n, fn in orig().items()}

        def collect(orig):
            def wrapper(spark, sf_dir, name):
                inv = tracer.new_invocation()
                self.invocations[inv] = {"module": self._module(name), "pass": index, "http": True}
                with tracer.span("http_server.collect", inv):
                    rows = orig(spark, sf_dir, name)
                spark.sparkContext.setJobDescription(None)
                self.invocations[inv]["rows"] = len(rows)
                self._note_live_rdds()
                return rows

            return wrapper

        with patched(persistence, "release_tracked", release):
            if self.w.is_http:
                with patched(registry, "queries", queries), patched(
                    http_server, "collect_route_rows", collect
                ):
                    yield
            else:
                yield

    def _note_live_rdds(self) -> None:
        n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.live_rdds_max = max(self.live_rdds_max, n)

    def _jvm_pid(self) -> int | str:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else "self"

    def _stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- metrics ---------------------------------------------------------------

    def end_to_end(self, setup_s: float, window_s: float) -> dict:
        lat = [x for p in self.passes for x in p["lat"]]
        return {
            "setup_s": setup_s,
            "wall_s": statistics.median(p["wall"] for p in self.passes),
            "throughput_rps": len(lat) / window_s,
        }

    def per_layer(self, record: dict) -> dict:
        log_ = read_event_log(os.path.join(self.run_dir, "eventlog"))
        jobs = log_.jobs
        m = dict.fromkeys(per_layer_units(), 0.0)
        for k in ("session.start_s", "catalog.load_tables_s", "host.calibration_s", "session.peak_rss_mb"):
            m[k] = self.layer.get(k, 0.0)
        m["host.steal_frac"] = record["steal_frac"]
        m["host.load1"] = record["load1"] or 0.0
        m["persistence.live_rdds_max"] = self.live_rdds_max

        by_name: dict[int, dict[str, list]] = {}
        for s in self.tracer.spans:
            by_name.setdefault(s.inv, {}).setdefault(s.name, []).append(s)
        traced = [i for i, p in enumerate(self.passes) if p["traced"]]
        per_pass = {i: dict.fromkeys(m, 0.0) for i in traced}
        unattributed = 0.0
        for inv, info in self.invocations.items():
            sp = by_name.get(inv, {})
            top = (sp.get("invocation") or sp.get("http_server.collect") or [None])[0]
            if top is None:
                continue
            acc = per_pass[info["pass"]]
            build = sum(s.dur for s in sp.get("registry.build", ()))
            release = sum(s.dur for s in sp.get("persistence.release", ()))
            # the exec span (batch) or the collect span's self time (HTTP)
            # covers the action's planning, its jobs and the gaps between
            exec_s = (
                sum(s.dur for s in sp["exec"]) if "exec" in sp else self.tracer.self_time(top)
            )
            build_jobs = jobs.get((inv, "build"), [])
            exec_jobs = jobs.get((inv, "exec"), [])
            all_jobs = build_jobs + exec_jobs
            exec_job = job_seconds(exec_jobs)
            plan = min(log_.planning_s.get((inv, "exec"), 0.0), max(0.0, exec_s - exec_job))
            unattributed = max(unattributed, abs(top.dur - build - exec_s) / top.dur)
            acc["registry.build_s"] += build - release
            acc["registry.build_jobs"] += len(build_jobs)
            acc["registry.build_job_s"] += job_seconds(build_jobs)
            acc["persistence.release_s"] += release
            acc["persistence.released_n"] += self.released.get(inv, 0)
            acc["plan.s"] += plan
            acc["exec.job_s"] += exec_job
            acc["exec.gap_s"] += max(0.0, exec_s - exec_job - plan)
            acc["exec.jobs"] += len(exec_jobs)
            acc["exec.stages"] += sum(len(j.stages) for j in exec_jobs)
            for c in COUNTERS:
                acc[f"exec.{c}"] += sum(getattr(j, c) for j in exec_jobs)
            mod = info["module"]
            if f"{mod}.wall_s" in acc:
                job_s = job_seconds(all_jobs)
                acc[f"{mod}.wall_s"] += top.dur
                acc[f"{mod}.build_s"] += build - release
                acc[f"{mod}.job_s"] += job_s
                acc[f"{mod}.gap_s"] += max(0.0, top.dur - job_s)
                acc[f"{mod}.shuffle_write_mb"] += sum(j.shuffle_write_mb for j in all_jobs)
            if info.get("http"):
                acc["http_server.collect_s"] += top.dur
                acc["http_server.rows"] += info.get("rows", 0)
        for i in traced:
            p = self.passes[i]
            if "client_s" in p:
                acc = per_pass[i]
                acc["http_server.wait_s"] = p["client_s"] - acc["http_server.collect_s"]
                acc["http_server.bytes"] = p["bytes"]
        per_pass_keys = {k for acc in per_pass.values() for k, v in acc.items() if v}
        for k in per_pass_keys:
            m[k] = statistics.median(per_pass[i][k] for i in traced)
        # client-side latency, from the untraced passes
        plain_passes = [p for p in self.passes if not p["traced"]]
        lat = [x for p in plain_passes if "post_lat" in p for x in p["lat"]]
        posts = [x for p in plain_passes for x in p.get("post_lat", ())]
        if lat:
            m["http_server.latency_p50_ms"] = 1000 * statistics.median(lat)
            m["http_server.requests"] = len(lat)
        if posts:
            m["http_server.post_p50_ms"] = 1000 * statistics.median(posts)
        plain = [p["wall"] for p in self.passes if not p["traced"]]
        m["trace.overhead_frac"] = (
            statistics.median(self.passes[i]["wall"] for i in traced) / statistics.median(plain) - 1
        )
        m["trace.unattributed_frac"] = unattributed
        self.tracer.dump(os.path.join(BUILD, "records", f"spans-{os.getpid()}.jsonl"))
        return m

    # -- host noise --------------------------------------------------------------

    def _noise_record(self, bench, before: dict, after: dict) -> dict:
        """Steal and load1 over the run, derived from bench's
        `_noise_context` snapshots as bench.main derives them, and judged
        by bench's own rule (`local_record_path`)."""
        wall = time.perf_counter() - T_START
        steal_s = None
        if "cpu_steal_jiffies" in before and "cpu_steal_jiffies" in after:
            steal_s = (after["cpu_steal_jiffies"] - before["cpu_steal_jiffies"]) / 100.0
        load1 = float(after["loadavg"][0]) if after.get("loadavg") else None
        _, suspect = bench.local_record_path(steal_s, load1, wall)
        if suspect:
            log(f"noise-suspect run: steal {steal_s} s over {wall:.1f} s, load1 {load1}")
        return {
            "before": before,
            "after": after,
            "wall_s": wall,
            "steal_s": steal_s,
            "steal_frac": (steal_s or 0.0) / (wall * (os.cpu_count() or 1)),
            "load1": load1,
            "calibration_s": self.layer.get("host.calibration_s"),
            "suspect": suspect,
        }

    def _write_record(self, metrics: dict, noise: dict) -> None:
        rec = {
            "workload": self.w.name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "sf": self.w.sf,
            "pass_walls": [p["wall"] for p in self.passes],
            "latencies": [p["lat"] for p in self.passes],
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
            "noise": noise,
        }
        with open(os.path.join(BUILD, "records", "records.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
        log(f"record: {json.dumps(rec)}")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 and a tiny pass")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    w = WORKLOADS[args.workload]
    if args.smoke:
        w = smoke(w)
    # the engine lives in the checkout root; fail before building anything
    # when it is not there
    import mini_hive_server_spark.registry  # noqa: F401

    stdout = os.dup(1)
    os.dup2(2, 1)  # Spark, py4j and the engine print to stderr from here on
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    run = Run(args, w, run_dir)
    run.prepare_env()
    try:
        result = run.execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    os.write(stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
