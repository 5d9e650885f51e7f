"""Serving surface: a listening SQL endpoint over the engine's catalog.

The reference is a *server* (Express routes over MongoDB,
``/root/reference/index.js:1-1417``); the Spark-native serving analog is
the HiveServer2 Thrift/JDBC endpoint — the protocol every Hive/Spark BI
client, `beeline`, and JDBC/ODBC driver already speaks. This module embeds
Spark's `HiveThriftServer2` in the engine's JVM (`startWithContext`), so a
network client can submit ANSI SQL against the metastore-backed catalog
(catalog.create_managed_tables) without any Python in the loop.

On a production cluster the same component is the long-running
Spark Thrift Server (or Kyuubi) deployment; nothing in the query path
changes — the endpoint hands SQL to the same SparkSession the engine's
DataFrame queries use, so plans, broadcasts, and AQE behave identically.

Environment note: the Spark Connect path (grpc) would be the 4.x-native
alternative, but the runtime image ships no `grpcio`, so the Thrift
surface — whose jars and `beeline` client ARE bundled with PySpark — is
the one wired up and smoke-tested (tests/test_thrift_server.py boots the
server and round-trips SQL through a real TCP socket via beeline's own
JVM).
"""

from __future__ import annotations

import os
import socket
import subprocess
import time

from pyspark.sql import SparkSession

DEFAULT_THRIFT_PORT = 10815
# how long start_thrift_server waits for the endpoint to accept TCP
_THRIFT_START_TIMEOUT_S = 90


def get_thrift_spark(
    port: int = DEFAULT_THRIFT_PORT,
    warehouse_dir: str = "/tmp/mhs_thrift_warehouse",
    metastore_dir: str = "/tmp/mhs_thrift_metastore",
) -> SparkSession:
    """Hive-enabled session pre-configured to host the Thrift endpoint,
    one local thread and one shuffle partition per core
    (`session.local_cpu_count`, as `get_spark` sizes its session).

    The port must be fixed at session build time: `hive.server2.thrift.port`
    is read from the HiveConf snapshotted when the Hive session state
    initializes, so a runtime `SET` after any metastore access is ignored
    (verified empirically — the server then binds its default 10000).
    Like `session.get_hive_spark`, this must create the JVM's FIRST session
    (`spark.sql.catalogImplementation` is static), hence the subprocess
    pattern in the smoke test. Enforced below rather than trusted:
    getOrCreate against an existing session silently IGNORES every
    build-time config here (thrift port, hive catalog, metastore), and
    the failure mode is a server that binds the wrong port with the
    wrong catalog 90 seconds later."""
    # cross-thread AND liveness-checked (mirrors session.get_hive_spark):
    # getActiveSession alone misses sessions created on other threads,
    # and a stale _instantiatedSession left behind by a STOPPED context
    # must not permanently block thrift startup
    from mini_hive_server_spark.session import existing_live_session, local_cpu_count

    existing = existing_live_session()
    if existing is not None:
        raise RuntimeError(
            "get_thrift_spark must create the JVM's FIRST session: an "
            "active session already exists, and getOrCreate would silently "
            "ignore the thrift port / hive catalog / metastore configs. "
            "Boot the server in a fresh process (see serve_mini_hive / "
            "tests/test_thrift_server.py)."
        )
    cpus = local_cpu_count()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mini-hive-server-spark-thrift")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse_dir)
        .config("spark.hive.server2.thrift.port", str(port))
        .config(
            "javax.jdo.option.ConnectionURL",
            f"jdbc:derby:;databaseName={metastore_dir};create=true",
        )
        .enableHiveSupport()
        .getOrCreate()
    )


def start_thrift_server(spark: SparkSession, port: int = DEFAULT_THRIFT_PORT) -> None:
    """Start HiveThriftServer2 inside this session's JVM and block until
    the TCP port accepts connections (`_THRIFT_START_TIMEOUT_S` at most). The session must come from
    `get_thrift_spark` (the port conf is build-time-only, see there).

    Pre-checks that nothing already answers on the port: the readiness
    probe below can only see "something accepts TCP" — if a stale server
    from a previous run still held the port, this JVM's bind would fail
    while the probe false-positively reported success against the OLD
    process and clients would silently query stale data."""
    try:
        socket.create_connection(("localhost", port), 1).close()
    except OSError:
        pass  # nothing listening — the expected state
    else:
        raise OSError(
            f"port {port} already accepts connections before startWithContext "
            "— a stale Thrift server (or another process) holds it; this "
            "JVM's bind would fail while the readiness probe reports the "
            "old server as ready"
        )
    jctx = spark._jsparkSession.sqlContext()
    spark._jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2.startWithContext(
        jctx
    )
    deadline = time.monotonic() + _THRIFT_START_TIMEOUT_S
    while time.monotonic() < deadline:
        try:
            socket.create_connection(("localhost", port), 1).close()
            return
        except OSError:
            time.sleep(0.5)
    raise TimeoutError(f"Thrift server did not open port {port} in {_THRIFT_START_TIMEOUT_S}s")


def _beeline_path() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "beeline")


def beeline_sql(sql: str, port: int = DEFAULT_THRIFT_PORT) -> list[list[str]]:
    """Run one SQL statement through the listening endpoint from a SEPARATE
    JVM (beeline's own) over JDBC, returning rows as lists of strings
    (csv2 output, header dropped). This is the genuine client path — no
    shared SparkSession, no Py4J shortcut."""
    proc = subprocess.run(
        [
            _beeline_path(),
            "-u",
            f"jdbc:hive2://localhost:{port}",
            "-n",
            "mhs",
            "--outputformat=csv2",
            "--showHeader=false",
            "--silent=true",
            "-e",
            sql,
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"beeline failed rc={proc.returncode}: {proc.stderr[-2000:]}"
        )
    # beeline prints its connection prompt glued to the first output line
    # ("0: jdbc:hive2://localhost:PORT> <row>"): strip the known prompt
    # prefix wherever it appears, then every non-empty line is a data row
    # (header suppressed above). csv2 double-quotes any cell containing a
    # comma/quote, so parse with the csv module — a naive split(',')
    # corrupts such cells into extra columns with literal quote chars.
    import csv as _csv
    import io as _io

    prompt = f"0: jdbc:hive2://localhost:{port}> "
    lines = []
    for ln in proc.stdout.splitlines():
        if ln.startswith(prompt):
            ln = ln[len(prompt):]
        if ln.strip():
            lines.append(ln)
    return [row for row in _csv.reader(_io.StringIO("\n".join(lines)))]


def serve_fixtures(
    sf_dir: str,
    port: int = DEFAULT_THRIFT_PORT,
    database: str = "mini_hive",
    with_reference_model: bool = True,
    warehouse_dir: str = "/tmp/mhs_thrift_warehouse",
    metastore_dir: str = "/tmp/mhs_thrift_metastore",
) -> SparkSession:
    """End-to-end convenience: build the hive session, materialize the
    fixture tables AND (by default) the synthesized reference-shaped
    collections as catalogued managed tables, and open the Thrift
    endpoint. Returns the hosting session (caller owns shutdown).

    The reference model defaults ON: this engine is the "mini hive server",
    so a fresh boot serves the mini-hive data model (ref_users, ref_tasks,
    ...) out of the box next to the analytic fixtures.

    `warehouse_dir`/`metastore_dir` pass through to get_thrift_spark:
    embedded Derby is single-process, so a SECOND concurrent instance
    (different port + sf_dir) must point at its own metastore_dir or
    Derby refuses to boot (XSDB6)."""
    from .catalog import create_managed_tables

    spark = get_thrift_spark(
        port=port, warehouse_dir=warehouse_dir, metastore_dir=metastore_dir
    )
    create_managed_tables(spark, sf_dir, database=database)
    if with_reference_model:
        _create_reference_tables(spark, database)
    start_thrift_server(spark, port=port)
    return spark


def _create_reference_tables(spark: SparkSession, database: str) -> None:
    """Materialize the six reference-shaped collections (fixtures.py) as
    managed tables in `database` (idempotent overwrite)."""
    from .fixtures import REF_TABLE_NAMES, reference_table

    for t in REF_TABLE_NAMES:
        reference_table(spark, t).write.mode("overwrite").format(
            "parquet"
        ).option(
            "path", f"/tmp/mhs_spark_warehouse/ref/{database}/{t}"
        ).saveAsTable(f"{database}.{t}")


def main() -> None:
    """`python -m mini_hive_server_spark.server` — stand up the engine as
    an actual server: fixture tables (and optionally the reference-shaped
    model) as catalogued tables behind a listening Thrift/JDBC endpoint.
    Connect with any Hive client, e.g.:

        beeline -u jdbc:hive2://localhost:10815 -e \\
            'SELECT count(*) FROM mini_hive.lineitem'
    """
    import argparse
    import time

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="fixture directory to serve (default: $SPARK_GRAFT_SF_DIR or sf0.1)",
    )
    ap.add_argument("--port", type=int, default=DEFAULT_THRIFT_PORT)
    ap.add_argument("--database", default="mini_hive")
    ap.add_argument(
        "--no-reference-model",
        action="store_true",
        help="skip the synthesized reference-shaped collections "
        "(served by default)",
    )
    args = ap.parse_args()

    spark = serve_fixtures(
        args.sf_dir,
        port=args.port,
        database=args.database,
        with_reference_model=not args.no_reference_model,
    )
    print(
        f"mini-hive-server-spark: serving {args.sf_dir} as database "
        f"'{args.database}' on jdbc:hive2://localhost:{args.port} (Ctrl-C to stop)",
        flush=True,
    )
    try:
        while True:
            time.sleep(60)
    except KeyboardInterrupt:
        spark.stop()


if __name__ == "__main__":
    main()
