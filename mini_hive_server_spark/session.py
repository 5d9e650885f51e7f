"""SparkSession factory tuned for both local testing and cluster scale.

The reference (``/root/reference/index.js:281-289``) "configures" its engine by
opening a MongoClient; our analog is a SparkSession with scale-aware defaults:

* AQE on — runtime join-strategy switching, partition coalescing, and skew-join
  splitting replace every hand-tuned decision the reference made (SURVEY.md §4).
* ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster AQE coalescing makes the initial number a ceiling, not a fixed cost.
* Arrow enabled so the Pandas-UDF slow path (similarity / multimodal ops) is
  batch-vectorized rather than row-at-a-time.
* Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "mini-hive-server-spark"


def local_cpu_count() -> int:
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4
    # a mis-set SPARK_GRAFT_CPUS=0 would produce master local[0] and
    # shuffle_partitions=0 — fall back like the non-numeric case
    return n if n >= 1 else (os.cpu_count() or 4)


def existing_live_session() -> "SparkSession | None":
    """The session `getOrCreate` would silently reuse, or None.

    Checks the thread-local active session AND the process-wide
    `_instantiatedSession` (a session built on another thread slips past
    the former), but only counts a session whose underlying context is
    still LIVE — PySpark can leave `_instantiatedSession` pointing at a
    stopped session, and treating that corpse as "existing" would
    permanently block first-session-only paths like the thrift/hive
    factories (the liveness probe mirrors PySpark's own getOrCreate:
    `session._sc._jsc is not None`)."""
    for s in (
        SparkSession.getActiveSession(),
        getattr(SparkSession, "_instantiatedSession", None),
    ):
        if s is None:
            continue
        try:
            if s._sc._jsc is not None:
                return s
        except Exception:
            continue
    return None


def get_hive_spark(
    warehouse_dir: str = "/tmp/mhs_hive_warehouse",
    metastore_dir: str = "/tmp/mhs_hive_metastore",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """SparkSession backed by a REAL Hive metastore (embedded Derby) —
    the BASELINE "Spark SQL + Hive metastore integration" path: DDL issued
    here persists in the metastore and is visible to later sessions
    pointed at the same ``metastore_dir``, unlike the in-memory session
    catalog.

    ``spark.sql.catalogImplementation`` is a STATIC conf fixed when the
    JVM's first session is built, so this must be the first session in the
    process; we raise rather than silently hand back an in-memory-catalog
    session (``getOrCreate`` would). Tests therefore exercise this in
    subprocesses — one JVM to write DDL, a second to prove the catalog
    survived. On a cluster the same call shape points at the shared
    metastore service instead of Derby.
    """
    # cross-thread AND liveness-checked: see existing_live_session —
    # getActiveSession alone misses sessions built on other threads, and
    # a stale _instantiatedSession from a stopped context must not block
    # startup
    active = existing_live_session()
    if active is not None:
        impl = active.conf.get("spark.sql.catalogImplementation", "in-memory")
        if impl != "hive":
            raise RuntimeError(
                "get_hive_spark must create the JVM's first session: an "
                f"active session with catalogImplementation={impl!r} exists"
            )
        # reuse is only safe if the existing hive session points at the
        # SAME metastore/warehouse the caller asked for — getOrCreate
        # would silently ignore the arguments otherwise and DDL would
        # land in the wrong Derby database
        got_wh = active.conf.get("spark.sql.warehouse.dir", "")
        got_ms = active.conf.get("javax.jdo.option.ConnectionURL", "")
        if not got_wh.rstrip("/").endswith(
            warehouse_dir.rstrip("/")
        ) or metastore_dir not in got_ms:
            raise RuntimeError(
                "get_hive_spark: an active hive session exists but points "
                f"at warehouse={got_wh!r} / metastore URL={got_ms!r}, not "
                f"the requested {warehouse_dir!r} / {metastore_dir!r} — "
                "static confs cannot be changed; use a fresh process"
            )
        return active
    cpus = local_cpu_count()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(DEFAULT_APP_NAME + "-hive")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse_dir)
        .config(
            "javax.jdo.option.ConnectionURL",
            f"jdbc:derby:;databaseName={metastore_dir};create=true",
        )
        .enableHiveSupport()
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    impl = spark.conf.get("spark.sql.catalogImplementation")
    if impl != "hive":
        raise RuntimeError(f"Hive support requested but got catalog {impl!r}")
    return spark


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    In local mode there is a single JVM; ``getOrCreate`` reuses an existing
    session, so tests, the driver contract, and bench all share one JVM.
    """
    cpus = local_cpu_count()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts encoding varies by fixture vintage (ns-as-long vs
        # timestamp[us]); catalog.events_ts_encoding probes the footer and
        # catalog._read_events / streaming.read_events_stream normalize —
        # the legacy nanosAsLong conf is set there at runtime only when the
        # footer actually says ns, keeping the concern in one place.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/mhs_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package_to_executors(spark)
    return spark


# applicationIds whose context already received the package zip — addPyFile
# is idempotent-by-name but re-zipping per query would be pure waste.
# The lock closes a check-then-act race: two threads
# first-touching the same context would otherwise both open ZipFile(path,
# "w") on the identical pid+appId path and ship a corrupt archive — the
# very executor-side ModuleNotFoundError this function exists to fix,
# made permanent by the guard marking the app shipped.
_SHIPPED_APPS: set[str] = set()
_SHIP_LOCK = __import__("threading").Lock()


def ship_package_to_executors(spark: SparkSession) -> None:
    """Make ``mini_hive_server_spark`` importable on executor Python
    workers regardless of the launch cwd.

    Package functions captured in Arrow-UDF closures are pickled BY
    REFERENCE (module + qualname), so the worker must import the package
    itself. In local mode that silently worked only when the app was
    launched from the repo root (the forked worker inherits the JVM's
    cwd); launched anywhere else — or on a real cluster with no deploy
    step — every Python-kernel query dies with an executor-side
    ModuleNotFoundError. Zip the package once per SparkContext and
    ``addPyFile`` it: Spark ships the zip to every executor (current and
    late-joining) and prepends it to the worker's sys.path. On a real
    cluster this replaces the usual --py-files deploy step; locally it
    costs one ~100 KB zip per context.

    Called from get_spark AND from catalog.load_tables so driver-owned
    vanilla sessions (the correctness gate imports __spark_entry__ with
    its own SparkSession) are covered too."""
    import tempfile
    import zipfile

    try:
        sc = spark.sparkContext
        app = sc.applicationId
    except Exception:
        return
    if app in _SHIPPED_APPS:  # cheap pre-check; re-checked under the lock
        return
    with _SHIP_LOCK:
        if app in _SHIPPED_APPS:
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(
            tempfile.gettempdir(), f"mhs_pkg_{os.getpid()}_{app}.zip"
        )
        try:
            with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
                for root, dirs, files in os.walk(pkg_dir):
                    dirs[:] = [d for d in dirs if d != "__pycache__"]
                    for fname in sorted(files):
                        if fname.endswith(".py"):
                            full = os.path.join(root, fname)
                            # arcname keeps the top-level package name so
                            # the zip root itself is the import path
                            rel = os.path.relpath(
                                full, os.path.dirname(pkg_dir)
                            )
                            z.write(full, rel)
            sc.addPyFile(zpath)
            _SHIPPED_APPS.add(app)
        except Exception:
            # best-effort: a read-only tempdir or an exotic context must
            # not take down the query path — the run-from-repo-root
            # workflow still works without the zip
            pass
