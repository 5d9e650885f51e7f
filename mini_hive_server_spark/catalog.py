"""Catalog layer: named tables over Parquet, Hive-metastore style.

The reference binds six MongoDB collection handles at startup
(``/root/reference/index.js:284-289``); our analog is a catalog of named
relational tables. Two modes:

* **Ephemeral views** (`load_tables` / `register_views`) — read the driver's
  Parquet fixtures and expose them as temp views for DataFrame/SQL queries.
  This is what the driver-facing queries use: no metastore daemon needed.
* **Managed tables** (`create_managed_tables`) — ``saveAsTable`` into
  ``spark.sql.warehouse.dir``. Under the default session this is the
  in-memory catalog; under ``session.get_hive_spark()`` the SAME calls go
  through a real Hive metastore (embedded Derby locally, the shared
  metastore service on a cluster), where DDL persists across JVMs —
  ``tests/test_hive_catalog.py`` proves create-in-one-JVM /
  read-in-another, bucketed DDL included (BASELINE.json
  ``spark_approach``). On a real cluster this is where you'd also
  ``ANALYZE TABLE`` for CBO stats and bucket the big fact tables
  (`bucketBy(n, "l_orderkey")`) so repeated joins on the key shuffle zero
  bytes.

Timestamps are bound zone-free (``EPOCH_NTZ`` below): no query reads its
caller's session timezone, and none writes it.

Scale note (100 TB): fixtures are single Parquet files; production tables
would be date-partitioned directories (`partitionBy("o_orderdate")`) so
partition pruning cuts scans, with file sizes targeted at 128-512 MB via
``spark.sql.files.maxPartitionBytes``-aligned writes.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Driver fixture tables (TESTDATA.md) — the relational modeling surface for
# every reference query shape plus the LLM-pipeline extension tables.
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Broadcast policy lives where the joins are declared (plans/tpch.py module
# docstring + SCALE.md): static hints ONLY on SF-invariant sides
# (region/nation, 1-row aggregates, literal tables, bounded key sets);
# SF-proportional sides — including part/supplier/customer — are AQE's call.


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def events_ts_encoding(sf_dir: str) -> str:
    """Probe the physical encoding of events.ts from the parquet footer.

    The driver's fixture generator has shipped the column as TIMESTAMP(NANOS)
    (round 1-2) and as timestamp[us] (round 3+); a future run could emit
    tz-adjusted micros. The footer read is pure pyarrow — no JVM round-trip —
    and is the single source of truth for BOTH the batch reader below and the
    streaming source schema (streaming/events_stream.py), so every consumer
    normalizes identically. Returns one of: "ns" (int64 nanos under the
    legacy conf), "ntz_us" (timestamp[us], no tz → Spark TIMESTAMP_NTZ),
    "ltz" (tz-adjusted → Spark TIMESTAMP), "timestamp" (unknown-but-castable
    fallback).
    """
    try:
        import pyarrow.parquet as pq

        t = pq.read_schema(table_path(sf_dir, "events")).field("ts").type
        s = str(t)
        if s.startswith("timestamp[ns") or s in ("int64", "long"):
            return "ns"
        if s.startswith("timestamp") and getattr(t, "tz", None):
            return "ltz"
        if s.startswith("timestamp"):
            return "ntz_us"
    except Exception:
        pass
    return "timestamp"


# Timestamps are bound zone-free, so no query depends on its caller's
# session timezone: batch timestamps are TIMESTAMP_NTZ holding UTC
# wall-clock time, streamed ones are TIMESTAMP instants, and every
# conversion below reads no zone. `cast(ntz AS string)`, `unix_timestamp`,
# `hour`, `to_date`, `window` and `timestampadd` over NTZ do not depend
# on the zone; `date_format`, `date_trunc` and `timestampdiff` shift an
# NTZ value that falls inside a DST gap, and `unix_micros` rejects NTZ.
EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def ntz_micros(ts: Column | str) -> Column:
    """Epoch microseconds of an NTZ column, equal under every session
    zone: whole seconds from `unix_timestamp`, plus the micros of the
    second."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    frac = (F.extract(F.lit("SECOND"), ts) * 1_000_000).cast("bigint") % 1_000_000
    return F.unix_timestamp(ts) * 1_000_000 + frac


def utc_text(instant: Column | str) -> Column:
    """A TIMESTAMP instant as its UTC `yyyy-MM-dd HH:mm:ss` text, whatever
    the session zone (`date_format` renders in the session zone)."""
    whole = F.timestamp_add("SECOND", F.unix_seconds(instant), F.expr(EPOCH_NTZ))
    return whole.cast("string")


def events_ts_micros(spark: SparkSession, sf_dir: str) -> tuple[str, Column]:
    """(encoding, epoch micros of the raw ts column): the one decode of
    events.ts that the batch reader and the stream reader
    (streaming.events_stream.read_events_stream) both bind from.

    ns -> µs must FLOOR (what a timestamp downcast means); `div`
    truncates toward zero, which would shift a pre-epoch ts 1 µs late,
    and `ts div 1000` stays in int64 where a float path loses precision
    above 2^53 ns. Reading the legacy ns vintage as a long needs
    `spark.sql.legacy.parquet.nanosAsLong`, the one conf the package
    writes to its caller's session: no read option exists, and only
    that fixture vintage sets it."""
    kind = events_ts_encoding(sf_dir)
    if kind == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return kind, F.expr("ts div 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")
    if kind == "ntz_us":
        return kind, ntz_micros("ts")
    return kind, F.unix_micros("ts")


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events with ts bound as TIMESTAMP_NTZ holding UTC wall-clock
    time, as the current fixture stores it (and as `orders.o_orderdate`
    and `lineitem.l_shipdate` are bound); the other encodings
    (events_ts_encoding) go through their epoch micros."""
    kind, micros = events_ts_micros(spark, sf_dir)
    df = spark.read.parquet(table_path(sf_dir, "events"))
    if kind == "ntz_us":
        return df
    return df.withColumn("ts", F.timestamp_add("MICROSECOND", micros, F.expr(EPOCH_NTZ)))


# What the engine reuses across the queries of one session lives in one
# place: a dict per (session, kind) hung on the session object itself.
# A module dict keyed by the session, even weakly, never frees its
# entries: the memoized DataFrames hold their session, so the value keeps
# the key alive. Held by the session, a dropped session and everything it
# memoized form one garbage cycle. A `newSession()` child is a different
# object with its own SQLConf, so it gets its own memos. `_SESSIONS` is
# weak, so it lets callers reach every live session's memo
# (`session_memos`) without pinning any of them.
_MEMO_ATTR = "_graft_memos"
_MEMO_LOCK = threading.Lock()
_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def session_memo(spark: SparkSession, kind: str) -> dict:
    """The session's dict for one kind of reuse, created on first use.
    The lock covers only the dict creation; callers build values
    outside it."""
    with _MEMO_LOCK:
        _SESSIONS.add(spark)
        return vars(spark).setdefault(_MEMO_ATTR, {}).setdefault(kind, {})


def session_memos(kind: str) -> list[dict]:
    """The `kind` memo of every live session."""
    with _MEMO_LOCK:
        return [vars(s)[_MEMO_ATTR].setdefault(kind, {}) for s in _SESSIONS]


def session_with(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of `spark` with `conf` set on the clone only, so that no
    query writes its caller's session conf. The clone shares the
    SparkContext and the table cache and starts from the caller's SQL
    conf and temp views as of this call (~16 ms); what it registers
    (temp views, memory-sink tables) stays in the clone."""
    return SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession(), conf)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every fixture table as a DataFrame (lazy — no scan happens here).

    Handles are memoized per (session, sf_dir): binding one costs a
    driver-side file listing and footer read (~0.9 s for the 10 tables
    through py4j), and the fixtures are immutable (mutation queries
    write derived outputs elsewhere), so this binds once like the
    reference's startup-bound collection handles (index.js:284-289)."""
    memo = session_memo(spark, "tables")
    cached = memo.get(sf_dir)
    if cached is not None:
        return dict(cached)
    out = {}
    for name in TABLE_NAMES:
        if name == "events":
            out[name] = _read_events(spark, sf_dir)
        else:
            out[name] = spark.read.parquet(table_path(sf_dir, name))
    memo[sf_dir] = out
    return dict(out)


def parallelize_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Guarantee cluster parallelism for a CPU-heavy map stage downstream.

    Scan parallelism is file/row-group granularity. A table packed into
    fewer splits than cores (the fixture is ONE single-row-group file per
    table → one task) serializes per-row kernels — shingling, hash
    signatures, vector arithmetic, Pandas UDFs — onto one core no matter
    the cluster size. When (and only when) the scan yields fewer
    partitions than ``defaultParallelism``, repartition up to it; the
    shuffle moves just the scan's (pruned) columns, megabytes here.

    At 100 TB the input has thousands of splits, the condition is false,
    and NO shuffle is inserted — this must stay a no-op on healthy layouts.
    The explicit numPartitions keeps AQE from coalescing the small local
    exchange back into one partition.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if _scan_partitions(df) >= par:
        return df
    return df.repartition(par, *keys) if keys else df.repartition(par)


def _scan_partitions(df: DataFrame) -> int:
    """`df.rdd.getNumPartitions()`, memoized per session by the plan's
    semanticHash (~7 ms against ~120 ms for the RDD conversion through
    py4j). The count is a pure function of the immutable fixture layout
    and the plan, provided layout confs (spark.sql.files.maxPartitionBytes)
    stay fixed within a session, which nothing in the repo changes after
    startup. A stale count would degrade scan parallelism, never
    correctness."""
    try:
        key = df.semanticHash()
    except Exception:
        return df.rdd.getNumPartitions()
    memo = session_memo(df.sparkSession, "scan_partitions")
    n = memo.get(key)
    if n is None:
        n = memo[key] = df.rdd.getNumPartitions()
    return n


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register all fixture tables as temp views named after themselves.

    Last registration wins if called with a different ``sf_dir`` — callers
    (driver, tests, bench) use one scale factor per run.
    """
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def create_managed_tables(
    spark: SparkSession,
    sf_dir: str,
    database: str = "mini_hive",
    tables: tuple[str, ...] = TABLE_NAMES,
) -> None:
    """Materialize fixtures as catalogued Parquet tables via saveAsTable
    (Hive-metastore-compatible DDL path). Data lands under /tmp with an
    explicit LOCATION so a vanilla driver session (whose warehouse dir is
    its CWD) never writes inside the repo; idempotent per session."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    # explicit LOCATION: without it the database *directory* is created
    # under the session warehouse dir — the CWD for a vanilla session
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {database} "
        f"LOCATION '/tmp/mhs_spark_warehouse/{sf_name}/{database}'"
    )
    for name in tables:
        expected_loc = f"/tmp/mhs_spark_warehouse/{sf_name}/{database}/{name}"
        if spark.catalog.tableExists(f"{database}.{name}"):
            # The Derby metastore persists across JVMs (metastore_db in the
            # server's CWD), so "exists" is NOT "current": a table created
            # from a different sf_dir would silently serve the OLD scale
            # factor's data to every SQL client. The location embeds the
            # sf name — if it matches, the data is the right fixture
            # (fixtures are immutable per TESTDATA.md); if not, drop and
            # rewrite at this run's location.
            loc_rows = spark.sql(
                f"DESCRIBE FORMATTED {database}.{name}"
            ).filter(F.col("col_name") == "Location").collect()
            actual = loc_rows[0]["data_type"] if loc_rows else ""
            if actual.rstrip("/").endswith(expected_loc):
                continue
            spark.sql(f"DROP TABLE {database}.{name}")
        # events must go through the same ts normalization every
        # DataFrame consumer gets (_read_events): a raw parquet read
        # either faults on the nanos-vintage fixture encoding or stores
        # a different ts type (NTZ vs LTZ) than the view path serves.
        df = (
            _read_events(spark, sf_dir)
            if name == "events"
            else spark.read.parquet(table_path(sf_dir, name))
        )
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", expected_loc)
            .saveAsTable(f"{database}.{name}")
        )
