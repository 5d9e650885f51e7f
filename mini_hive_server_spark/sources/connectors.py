"""Source/sink connectors beyond the fixture Parquet: JSON and CSV
readers with explicit schemas, a partition-pruned Parquet sink, and a
bucketed co-located join.

The reference's only ingest paths are `express.json()` body parsing
(`/root/reference/index.js:14`) and straight `insertOne` of client
documents (`index.js:199,925`) — i.e. schemaless JSON in, row-at-a-time.
Our analog is schema-enforced bulk ingest: every reader below supplies an
explicit StructType (schema inference is a two-pass scan at 100 TB — never
in production paths), and every sink demonstrates a layout decision that
matters at scale:

* JSON/CSV round-trips — the interchange formats a pipeline actually
  receives; written to a per-SF temp dir, read back through the typed
  reader, checked against the Parquet oracle (format fidelity proof).
* Partitioned Parquet sink — `partitionBy` on a low-cardinality column so
  the read side prunes directories (`PartitionFilters` in the scan, ~1/k
  of files touched for a k-value column).
* Bucketed tables — both join sides `bucketBy(8, key)` into the session
  catalog; the join then runs with zero Exchange (pre-shuffled on disk).
  This is the 100 TB answer to repeated fact-fact joins: pay one shuffle
  at write time, never again at read time.

Each query writes under /tmp/mhs_spark_sources/<sf>/ and overwrites —
deterministic re-runs, nothing left inside the repo.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_tables, table_path
from ..registry import register

_TMP_ROOT = "/tmp/mhs_spark_sources"


def _tmp_dir(sf_dir: str, leaf: str) -> str:
    # key by basename + a short hash of the FULL path: two fixture dirs
    # sharing a leaf name (e.g. /root/testdata/sf0.01 vs /tmp/alt/sf0.01)
    # must not share staged copies — the mtime freshness checks in the
    # staging helpers would otherwise silently serve the other dir's data
    sf_name = os.path.basename(os.path.abspath(os.path.normpath(sf_dir)))
    return os.path.join(_TMP_ROOT, f"{sf_name}-{_path_tag(sf_dir)}", leaf)


def _path_tag(sf_dir: str) -> str:
    """Short hash of the full fixture path: the `_tmp_dir` collision tag,
    also used in metastore names (the bucketed database), so two fixture
    dirs sharing a leaf name never share a staged copy or a database."""
    import hashlib

    ap = os.path.abspath(os.path.normpath(sf_dir))
    return hashlib.md5(ap.encode()).hexdigest()[:8]


@contextlib.contextmanager
def _staged_lock(out_dir: str):
    """The staging lock for `out_dir`: one fcntl.flock file shared by
    EVERY writer/registrar of that directory. `_build_once` (data
    rebuilds) and the bucketed-catalog DDL fallback both take THIS lock
    — keeping the path in one place is what makes "the DDL takes the
    SAME lock" a structural guarantee instead of a string coincidence
    (ADVICE r12 #3)."""
    import fcntl

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "_staged.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def _build_once(out_dir: str, src_paths: list[str], build) -> None:
    """Run `build()` (which materializes derived data under `out_dir`)
    exactly once per SOURCE CONTENT, safely across processes.

    Three hazards closed here (round-11 review), all previously handled
    ad hoc or not at all by the per-query exists-guards:
    * staleness — freshness is an EXACT stat manifest (mtime_ns + size
      of every source file), not an exists-check or mtime ordering, so a
      regenerated fixture (even with preserved timestamps) rebuilds;
    * torn builds — the manifest is written LAST via atomic os.replace,
      so an interrupted build leaves no manifest and rebuilds cleanly;
    * cross-process races — an fcntl.flock around check+build serializes
      the driver gate and a concurrent bench run on the same host (the
      actual concurrent-writer scenario) instead of letting two
      mode('overwrite') jobs shred each other's part files."""
    import json

    manifest = os.path.join(out_dir, "_staged_manifest.json")
    want = {
        p: {"mtime_ns": os.stat(p).st_mtime_ns, "size": os.stat(p).st_size}
        for p in src_paths
    }
    with _staged_lock(out_dir):
        try:
            with open(manifest) as f:
                if json.load(f) == want:
                    return
        except (OSError, ValueError):
            pass
        build()
        with open(manifest + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(manifest + ".tmp", manifest)


_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.LongType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.LongType()),
        T.StructField("n_comment", T.StringType()),
    ]
)

_JSON_ROUNDTRIP_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey
FROM nation
ORDER BY n_nationkey
"""


@register("source_json_roundtrip", oracle=_JSON_ROUNDTRIP_ORACLE, tags=("source",))
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + typed reader round-trip (S8: the reference ingests
    request-body JSON; we ingest JSON files with an explicit schema — no
    inference scan). Equality with the Parquet original proves the format
    conversion is lossless for these types."""
    out = _tmp_dir(sf_dir, "nation_json")
    nation = load_tables(spark, sf_dir)["nation"]
    nation.write.mode("overwrite").json(out)
    back = spark.read.schema(_NATION_SCHEMA).json(out)
    return back.select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")


_CSV_ROUNDTRIP_ORACLE = """
SELECT r_regionkey, r_name
FROM region
ORDER BY r_regionkey
"""


@register("source_csv_roundtrip", oracle=_CSV_ROUNDTRIP_ORACLE, tags=("source",))
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + typed reader round-trip. Free-text comment columns are
    excluded from the written file (commas/quotes round-trip fine but the
    oracle equality only needs the keys) — schema is explicit, header on."""
    out = _tmp_dir(sf_dir, "region_csv")
    region = load_tables(spark, sf_dir)["region"].select("r_regionkey", "r_name")
    region.write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.LongType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(out)
    return back.orderBy("r_regionkey")


_PARTITION_PRUNE_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("source_partitioned_prune", oracle=_PARTITION_PRUNE_ORACLE, tags=("source",))
def source_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Parquet sink + pruned read: orders written
    `partitionBy(o_orderpriority)`, then a filter on the partition column
    reads ~1/5 of the files (PartitionFilters in the scan, verified by
    test). At 100 TB this is the difference between scanning a day and
    scanning a decade — partition on what queries filter on."""
    out = _tmp_dir(sf_dir, "orders_by_priority")
    orders = load_tables(spark, sf_dir)["orders"]
    (
        orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


_BUCKETED_JOIN_ORACLE = """
SELECT o.o_orderkey,
       count(*) AS n_lines,
       round(sum(l.l_extendedprice), 2) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY o.o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@register("source_bucketed_join", oracle=_BUCKETED_JOIN_ORACLE, tags=("source",))
def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: orders and lineitem written
    `bucketBy(8, orderkey)` + `sortBy` into the session catalog, then
    joined on the bucket key. The physical plan has NO shuffle Exchange
    (verified by test): at fixture scale Catalyst broadcasts the filtered
    orders side (right call — broadcast beats co-located SMJ for a tiny
    build side), and the groupBy on the bucket key is shuffle-free because
    the bucketed scan reports HashPartitioning on it. With broadcast
    disabled the same tables SMJ with zero Exchange — also tested.

    This is the canonical 100 TB pattern for a fact-fact join that runs
    daily: bucket both tables on the join key at ingest; every subsequent
    join, groupBy, or window on that key is shuffle-free. (AQE cannot help
    a 10 TB x 10 TB shuffle; bucketing removes it.)"""
    sf_name = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    # db name carries the _tmp_dir collision tag: basename-only keying
    # let /root/testdata/sf0.01 and /tmp/alt/sf0.01 share a database, so
    # the second caller silently read the first dir's bucketed data
    # (round-11 review — the one path where a wrong answer could pass as
    # verified)
    db = f"mhs_bucketed_{sf_name}_{_path_tag(sf_dir)}"
    # explicit LOCATION keeps the database directory out of the session
    # warehouse dir (the CWD for a vanilla driver session)
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {db} "
        f"LOCATION '{_tmp_dir(sf_dir, 'bucketed_db')}'"
    )
    tables = load_tables(spark, sf_dir)
    specs = {
        "orders_b": (tables["orders"], "o_orderkey", "orders"),
        "lineitem_b": (tables["lineitem"], "l_orderkey", "lineitem"),
    }
    for tbl, (df, key, src) in specs.items():
        tbl_path = _tmp_dir(sf_dir, f"bucketed/{tbl}")

        def _write(df=df, key=key, tbl=tbl, tbl_path=tbl_path):
            # a persistent metastore (get_hive_spark) can outlive /tmp —
            # drop any stale registration before rewriting so the
            # saveAsTable never trips over a corpse entry
            spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
            (
                df.write.format("parquet")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", tbl_path)
                .mode("overwrite")
                .saveAsTable(f"{db}.{tbl}")
            )

        # freshness + liveness instead of bare tableExists: the metastore
        # entry can outlive both the fixture vintage AND the /tmp data
        # (tmpwatch/reboot); _build_once's manifest catches the former,
        # the explicit registration check inside _write the latter
        _build_once(tbl_path, [table_path(sf_dir, src)], _write)
        if not spark.catalog.tableExists(f"{db}.{tbl}"):
            # data is fresh on disk but the (new/in-memory) catalog has no
            # entry — register the existing files in place with
            # catalog-only DDL (CLUSTERED BY preserves the shuffle-free
            # bucketed plan; bucket ids are recovered from the part-file
            # names saveAsTable wrote). The earlier fallback called
            # _write() here, which DROPped and fully rewrote the table
            # OUTSIDE _build_once's flock — every fresh in-memory-catalog
            # session paid a rewrite that could shred part files under a
            # concurrent reader, the exact race the lock exists to close.
            # Data rewrites now happen exclusively under _build_once, and
            # the DDL itself takes the SAME lock — via the shared
            # _staged_lock helper, so the "same lock" guarantee survives
            # a rename of the lock file (round-12 self-review; ADVICE
            # r12 #3): unlocked, the check-then-CREATE could interleave
            # with a concurrent rebuild's DROP → saveAsTable and make the
            # rebuild throw TableAlreadyExists on a half-registered entry.
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
            )
            with _staged_lock(tbl_path):
                if not spark.catalog.tableExists(f"{db}.{tbl}"):
                    spark.sql(
                        f"CREATE TABLE IF NOT EXISTS {db}.{tbl} ({cols}) "
                        f"USING parquet "
                        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
                        f"LOCATION '{tbl_path}'"
                    )
    o = spark.table(f"{db}.orders_b").filter(F.col("o_orderpriority") == "1-URGENT")
    l = spark.table(f"{db}.lineitem_b")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


_JSON_EXTRACT_ORACLE = """
SELECT doc_id,
       CAST(json_extract_string(meta_json, '$.lang') AS VARCHAR) AS lang,
       CAST(json_extract(meta_json, '$.n_chars') AS INTEGER) AS n_chars
FROM (
  SELECT doc_id,
         '{"lang": "' || lang || '", "n_chars": ' || n_chars || '}' AS meta_json
  FROM documents
)
ORDER BY doc_id
"""


@register("source_from_json", oracle=_JSON_EXTRACT_ORACLE, tags=("source",))
def source_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`from_json` over an embedded JSON string column — the in-row analog
    of S8 (the reference trusts request-body JSON; we parse with a schema
    and typed field extraction). Construct-then-parse keeps the query a
    pure function of the fixture."""
    docs = load_tables(spark, sf_dir)["documents"]
    meta_schema = T.StructType(
        [
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )
    with_json = docs.select(
        "doc_id",
        F.concat(
            F.lit('{"lang": "'), F.col("lang"), F.lit('", "n_chars": '),
            F.col("n_chars").cast("string"), F.lit("}"),
        ).alias("meta_json"),
    )
    parsed = with_json.select(
        "doc_id", F.from_json("meta_json", meta_schema).alias("m")
    )
    return parsed.select(
        "doc_id", F.col("m.lang").alias("lang"), F.col("m.n_chars").alias("n_chars")
    ).orderBy("doc_id")


_ORC_ROUNDTRIP_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey
FROM supplier
ORDER BY s_suppkey
"""


@register("source_orc_roundtrip", oracle=_ORC_ROUNDTRIP_ORACLE, tags=("source",))
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + reader round-trip — the third columnar-ecosystem format
    next to Parquet (native) and the text formats. Same typed-reader
    policy; equality with the Parquet original proves lossless conversion.
    (The oracle reads the Parquet fixture — DuckDB never touches the ORC
    files; the round-trip happens entirely on the Spark side.)"""
    out = _tmp_dir(sf_dir, "supplier_orc")
    supplier = load_tables(spark, sf_dir)["supplier"].select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    supplier.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.orderBy("s_suppkey")


_SCHEMA_EVOLUTION_ORACLE = """
SELECT n_nationkey, n_name, NULL AS n_regionkey, 1 AS batch
FROM nation
UNION ALL
SELECT n_nationkey, n_name, n_regionkey::VARCHAR, 2 AS batch
FROM nation
ORDER BY n_nationkey, batch
"""


@register(
    "source_schema_evolution",
    oracle=_SCHEMA_EVOLUTION_ORACLE,
    tags=("source",),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a file table: batch 1 lands WITHOUT a column,
    batch 2 adds it, and a `mergeSchema` read serves the union with NULLs
    for the pre-evolution rows — the additive-column pattern every
    long-lived ingest directory hits. Footer-merge costs scale with file
    COUNT, not data size; production tables pin the merged schema in the
    metastore (`spark.read.schema(...)`) so the per-query merge
    disappears — this query exercises the discovery path itself."""
    out = _tmp_dir(sf_dir, "nation_evolving")
    nation = load_tables(spark, sf_dir)["nation"]
    v1 = nation.select("n_nationkey", "n_name", F.lit(1).alias("batch"))
    v2 = nation.select(
        "n_nationkey", "n_name", "n_regionkey", F.lit(2).alias("batch")
    )
    v1.write.mode("overwrite").parquet(f"{out}/b1")
    v2.write.mode("overwrite").parquet(f"{out}/b2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/b1", f"{out}/b2"
    )
    # the evolved column renders as string: the oracle harness collects
    # via pandas, which coerces a nullable int column to float NaN and
    # breaks NULL comparison — string keeps pre-evolution NULLs as NULLs
    return back.select(
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").cast("string").alias("n_regionkey"),
        "batch",
    ).orderBy("n_nationkey", "batch")


_ZORDER_ORACLE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
WHERE user_id % 16 = 3
  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-15 00:00:00'
GROUP BY 1
ORDER BY 1
"""


def _morton_z(user_bits: "F.Column", time_bits: "F.Column") -> "F.Column":
    """16-bit Morton interleave of two 8-bit dimensions, pure codegen
    expressions (no UDF): z = Σ ((u>>i)&1)<<(2i+1) | ((t>>i)&1)<<(2i)."""
    z = F.lit(0)
    for i in range(8):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(user_bits, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(time_bits, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def write_events_zorder(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Write events Z-ORDERED on (user_id, day): Morton-interleave 8 bits
    of each dimension, range-partition + sort on the z value. A contiguous
    z-range maps to a bounded (user, day) rectangle, so every row group's
    min/max footer stats are NARROW in BOTH dimensions and predicates on
    either column prune row groups — the from-first-principles version of
    a lakehouse OPTIMIZE ZORDER BY (user_id, ts)."""
    events = load_tables(spark, sf_dir)["events"]
    z = _morton_z(
        F.col("user_id").bitwiseAND(F.lit(255)),
        F.dayofyear("ts").bitwiseAND(F.lit(255)),
    )
    (
        events.withColumn("z", z)
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .option("parquet.block.size", 256 * 1024)
        .parquet(out)
    )


@register("source_zorder_layout", oracle=_ZORDER_ORACLE, tags=("source", "layout"))
def source_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout for MULTI-dimensional row-group
    pruning: a table sorted on time prunes time predicates only — a user
    predicate reads every row group because each one spans the full user
    range. Z-ordering on (user_id, day) bounds BOTH dimensions per row
    group, so the 2-d slice below (one user stripe × one week) skips most
    of the table at the parquet-footer level; linear sorts can only serve
    one of the two predicates. At 100 TB this is the layout lever for
    point-lookup-heavy analytics (per-user timelines, per-entity audits)
    where partitioning on date alone leaves a full-scan per user.

    The layout is RESULT-INVARIANT (the oracle runs on the original
    table); tests/test_sources.py::test_zorder_rowgroups_bound_both_dims
    inspects the written footers and asserts the per-row-group user_id
    spread is a fraction of the time-sorted baseline's."""
    out = _tmp_dir(sf_dir, "events_zorder")
    write_events_zorder(spark, sf_dir, out)
    back = spark.read.parquet(out)
    return (
        back.filter(
            (F.col("user_id") % 16 == 3)
            & (F.col("ts") >= F.lit("2024-01-08").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


# ------------------------------------- incremental rollup (dynamic overwrite)

_INCR_ROLLUP_ORACLE = """
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


def _rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events projected to rollup grain plus the late-arrival marker: the
    delta is 10% of rows (event_id % 10) restricted to the corpus's LAST
    3 days — late arrivals land near the watermark, not uniformly across
    history. The max-day anchor joins in as a 1-row broadcast aggregate
    (provably tiny at any SF), no driver-side collect."""
    events = load_tables(spark, sf_dir)["events"].select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
        "event_id",
    )
    max_day = events.agg(F.max("day").alias("max_day"))
    return events.crossJoin(F.broadcast(max_day)).withColumn(
        "is_delta",
        (F.col("event_id") % 10 == 0)
        & (F.datediff(F.col("max_day"), F.col("day")) <= 2),
    )


def _rollup(df: DataFrame) -> DataFrame:
    return df.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )


def write_rollup_base(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Base load: full overwrite of the day-partitioned rollup from
    everything that has arrived on time."""
    ev = _rollup_events(spark, sf_dir)
    _rollup(ev.filter(~F.col("is_delta"))).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(out)


def merge_rollup_delta(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Delta load: aggregate the late arrivals alone, merge with ONLY the
    affected base partitions (semi-join on the delta's day set), and
    dynamic-overwrite — partitions absent from the write are untouched
    on disk (file-identity asserted in tests/test_sources.py)."""
    ev = _rollup_events(spark, sf_dir)
    delta = _rollup(ev.filter(F.col("is_delta")))
    affected = delta.select("day").distinct()
    base_cols = ["day", "event_type", "n_events", "total_value"]
    base_affected = (
        spark.read.parquet(out)
        .withColumn("day", F.col("day").cast("string"))
        .join(affected, "day", "left_semi")
        .select(*base_cols)
    )
    merged = (
        base_affected.union(delta.select(*base_cols))
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
        )
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("day").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


@register("source_incremental_rollup", oracle=_INCR_ROLLUP_ORACLE, tags=("source", "sink"))
def source_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance via DYNAMIC partition
    overwrite — the batch pattern that keeps a 100 TB daily aggregate
    fresh without recomputing history. A base load writes the
    day-partitioned rollup from on-time events; the late-arriving delta
    (10% of rows in the last 3 days) is aggregated alone, merged with
    ONLY the affected base partitions, and written back with
    `spark.sql.sources.partitionOverwriteMode=dynamic`, which replaces
    exactly the partitions present in the write — every other day's
    files stay untouched (file-identity asserted in tests). The oracle
    is the full recompute over all events: incremental maintenance must
    be indistinguishable from it.

    At scale this is the whole point: the merge reads |affected days|
    partitions of an already-aggregated table (rows = days x types, not
    raw events) plus the delta, so daily maintenance cost is
    proportional to the delta's day-spread, not to history. Counts merge
    by sum; re-aggregation of partial sums is exact for count and
    2-decimal stable for the double sum."""
    out = _tmp_dir(sf_dir, "events_rollup_by_day")
    write_rollup_base(spark, sf_dir, out)
    merge_rollup_delta(spark, sf_dir, out)
    return (
        spark.read.parquet(out)
        .select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


# --------------------------------------------- small-file compaction plan

_COMPACT_GROUPS = 16  # deterministic small files to plant
_COMPACT_BINS = 4  # target compacted file count

_COMPACTION_ORACLE = f"""
WITH g AS (
  SELECT CAST(event_id % {_COMPACT_GROUPS} AS INTEGER) AS file_group,
         count(*) AS n_rows
  FROM events GROUP BY 1
),
t AS (
  SELECT CAST(ceil(sum(n_rows) / {_COMPACT_BINS}.0) AS BIGINT) AS target FROM g
),
c AS (
  SELECT file_group, n_rows,
         coalesce(sum(n_rows) OVER (
           ORDER BY file_group
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM g
)
SELECT CAST(floor(cum_before * 1.0 / t.target) AS BIGINT) AS bin_id,
       count(*) AS n_files,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       TRUE AS one_file_per_group
FROM c, t
GROUP BY 1
ORDER BY bin_id
"""


@register(
    "source_compaction_planner", oracle=_COMPACTION_ORACLE, tags=("source", "layout")
)
def source_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the table-maintenance pass every
    lakehouse runs (Delta OPTIMIZE / Iceberg rewrite_data_files): plant a
    deterministic 16-small-file layout (events partitioned by
    event_id % 16, one file per partition dir), read the REAL file layout
    back, and bin-pack files into ~4 target files by cumulative row count
    (first-fit in file order). Emits the plan: per output bin, how many
    input files merge and how many rows move — plus a layout proof column
    (one_file_per_group) read from input_file_name(), pinning that the
    planner measured actual files, not assumptions.

    Scale shape: per-file stats come from a group-by on the partition
    column (at 100 TB: the table manifest / file footers — metadata-sized,
    NOT a data scan; here the fixture is small enough to count directly,
    and the distinct-file check is the point). The bin assignment runs a
    single-partition window over n_files rows — planner metadata, file
    -count-sized, never row-count-sized. The compaction EXECUTION would
    then be per-bin coalesced rewrites, embarrassingly parallel across
    bins, never a global shuffle."""
    out = _tmp_dir(sf_dir, "events_small_files")
    events = load_tables(spark, sf_dir)["events"].withColumn(
        "file_group", (F.col("event_id") % _COMPACT_GROUPS).cast("int")
    )
    (
        events.repartition(_COMPACT_GROUPS, "file_group")
        .write.mode("overwrite")
        .partitionBy("file_group")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "file_group", F.col("_metadata.file_path").alias("file_path")
    )
    per_file = back.groupBy("file_group").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("file_path").alias("n_files_in_group"),
    )
    total = per_file.agg(
        F.ceil(F.sum("n_rows") / float(_COMPACT_BINS)).alias("target")
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy("file_group")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = (
        per_file.withColumn(
            "cum_before", F.coalesce(F.sum("n_rows").over(w), F.lit(0))
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "bin_id", F.floor(F.col("cum_before") * 1.0 / F.col("target"))
        )
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            (
                (F.min("n_files_in_group") == 1) & (F.max("n_files_in_group") == 1)
            ).alias("one_file_per_group"),
        )
        .orderBy("bin_id")
    )


# ----------------------------------------------- corrupt-record JSON census

_JSON_CORRUPT_ORACLE = """
SELECT count(*) AS n_lines,
       count(*) FILTER (WHERE c_custkey % 7 = 3) AS n_corrupt,
       count(*) FILTER (WHERE c_custkey % 7 != 3) AS n_valid,
       CAST(sum(CASE WHEN c_custkey % 7 != 3 THEN c_custkey END) AS BIGINT)
         AS valid_key_sum,
       round(sum(CASE WHEN c_custkey % 7 != 3 THEN c_acctbal END), 2)
         AS valid_bal_sum
FROM customer
"""


@register("source_json_corrupt_census", oracle=_JSON_CORRUPT_ORACLE, tags=("source", "json"))
def source_json_corrupt_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON ingestion with a corrupt-record census: a JSONL
    file is synthesized from customers with every (key % 7 == 3) line
    deterministically TRUNCATED mid-object, then read back with an
    explicit schema plus `columnNameOfCorruptRecord` — malformed lines
    surface as rows with NULL data columns and the raw text preserved in
    `_corrupt`, instead of failing the job (FAILFAST) or vanishing
    silently (DROPMALFORMED). Real feeds are never 100% well-formed; the
    census IS the data-quality contract: quarantine counts + checksums
    over the rows that survived.

    The oracle replays the planting rule arithmetically over the clean
    fixture — corrupt lines carry no parseable values, so the valid-side
    sums must match exactly. Plan: map-only write, map-only PERMISSIVE
    parse, one 1-row aggregate; nothing shuffles but 5 numbers."""
    out = _tmp_dir(sf_dir, "customer_jsonl_corrupt")
    cust = load_tables(spark, sf_dir)["customer"]
    lines = cust.select(
        F.when(
            F.col("c_custkey") % 7 == 3,
            F.concat(
                F.lit('{"c_custkey": '),
                F.col("c_custkey").cast("string"),
                F.lit(', "c_name": '),  # unterminated on purpose
            ),
        )
        .otherwise(
            F.to_json(F.struct("c_custkey", "c_name", "c_acctbal"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.col("_corrupt")).alias("n_corrupt"),
        F.count(F.col("c_custkey")).alias("n_valid"),
        F.sum("c_custkey").alias("valid_key_sum"),
        F.round(F.sum("c_acctbal"), 2).alias("valid_bal_sum"),
    )


# ------------------------------------------- Python DataSource API reader

try:  # Spark 4+ Python DataSource API
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class SynthRangeDataSource(DataSource):
        """Custom batch source via the Python DataSource API (Spark 4):
        a partition-parallel deterministic row generator — the minimal
        harness for plugging ANY Python-reachable system (REST API,
        message queue, bespoke format) into `spark.read.format(...)`.
        Each InputPartition reads its residue class independently, so the
        scan parallelizes exactly like a file source's splits."""

        @classmethod
        def name(cls) -> str:
            return "synthrange"

        def schema(self) -> str:
            return "id bigint, shard int, fp string"

        def reader(self, schema):
            return _SynthRangeReader(self.options)

    class _SynthRangeReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", "1000"))
            self.parts = int(options.get("partitions", "8"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            import hashlib

            shard = partition.value
            for i in range(shard, self.n, self.parts):
                yield (i, shard, hashlib.md5(str(i).encode()).hexdigest())

    _HAS_PY_DATASOURCE = True
except ImportError:  # pragma: no cover - older Spark
    _HAS_PY_DATASOURCE = False


_PYDS_N = 5000
_PYDS_PARTS = 8

_PYDS_ORACLE = f"""
WITH synth AS (
  SELECT r.range AS id,
         CAST(r.range % {_PYDS_PARTS} AS INTEGER) AS shard,
         md5(CAST(r.range AS VARCHAR)) AS fp
  FROM range({_PYDS_N}) r
)
SELECT count(*) AS n_rows,
       count(DISTINCT shard) AS n_shards,
       CAST(sum(id) AS BIGINT) AS id_sum,
       CAST(sum(CAST(('0x' || substr(fp, 1, 8)) AS UBIGINT) % 1000000007)
            AS BIGINT) AS fp_checksum
FROM synth
"""


@register("source_python_datasource", oracle=_PYDS_ORACLE, tags=("source", "udf"))
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource API end-to-end: register a custom source
    class, `spark.read.format("synthrange")` it, and aggregate — proving
    the engine's source surface is EXTENSIBLE from Python (Spark 4's
    sanctioned mechanism; before it, custom sources meant JVM code). The
    source generates each partition's residue class independently —
    shard i yields ids ≡ i (mod partitions) — so the oracle reproduces
    every row arithmetically from `range()` and pins the content through
    an md5 checksum.

    Scale shape: partitions() returns one InputPartition per shard and
    executors run read() in parallel, the same split model as file
    sources; Arrow batches carry rows JVM-side. The aggregate is one
    1-row partial-agg. (A production reader points read() at its
    range-sliced external system; the checksum contract stays.)"""
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise NotImplementedError("Python DataSource API requires Spark 4+")
    try:
        spark.dataSource.register(SynthRangeDataSource)
    except Exception as ex:
        # tolerate ONLY the already-registered case — swallowing every
        # failure turned real registration errors into a baffling
        # 'data source not found' at read time (round-11 review)
        if "already" not in str(ex).lower():
            raise
    df = (
        spark.read.format("synthrange")
        .option("n", str(_PYDS_N))
        .option("partitions", str(_PYDS_PARTS))
        .load()
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("shard").alias("n_shards"),
        F.sum("id").alias("id_sum"),
        F.sum(
            F.conv(F.substring("fp", 1, 8), 16, 10).cast("long") % 1000000007
        ).alias("fp_checksum"),
    )


# ------------------------------------------- dynamic partition pruning

_DPP_ORACLE = """
WITH fact AS (
  SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS o_month,
         o_totalprice
  FROM orders
),
dim AS (
  SELECT DISTINCT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
         strftime(CAST(o_orderdate AS TIMESTAMP), '%Y') || '-Q'
           || CAST((CAST(strftime(CAST(o_orderdate AS TIMESTAMP), '%m')
                   AS INT) + 2) // 3 AS VARCHAR) AS quarter
  FROM orders
)
SELECT f.o_month,
       count(*) AS n_orders,
       round(sum(f.o_totalprice), 2) AS total_price
FROM fact f JOIN dim d ON f.o_month = d.month
WHERE d.quarter = '1996-Q1'
GROUP BY f.o_month
ORDER BY o_month
"""


@register("source_dynamic_partition_prune", oracle=_DPP_ORACLE, tags=("source",))
def source_dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact table is laid out
    `partitionBy(order month)`; the query filters only the DIM side
    (quarter = 1996-Q1), so no static PartitionFilter exists at plan
    time — Spark plants a `dynamicpruningexpression` subquery on the
    fact scan that executes the broadcast dim FIRST and prunes fact
    partitions at RUNTIME to the 3 months the dim survived
    (plan-asserted in tests/test_sources.py).

    `source_partitioned_prune` shows the static half (filter names the
    partition column literally); this is the half that matters for star
    joins at 100 TB, where the selective predicate always lives on a
    dim attribute the fact never stored — without DPP the fact scan
    reads every partition and the predicate applies post-join.

    The partitioned layout is derived from the immutable sf_dir fixture,
    so it is written ONCE behind a `_SUCCESS` exists-check (ADVICE r6:
    the old unconditional overwrite ran as a side effect of merely
    BUILDING the DataFrame — on every explain and during the
    registry-wide plan audit — and concurrent builds of the same SF dir
    could race on the overwrite)."""
    out = _tmp_dir(sf_dir, "orders_by_month")
    orders = load_tables(spark, sf_dir)["orders"]
    month = F.date_format("o_orderdate", "yyyy-MM").alias("o_month")
    _build_once(
        out,
        [table_path(sf_dir, "orders")],
        lambda: (
            orders.select("o_orderkey", "o_totalprice", month)
            .write.mode("overwrite")
            .partitionBy("o_month")
            .parquet(out)
        ),
    )
    fact = spark.read.parquet(out)
    dim = orders.select(
        month,
        F.concat(
            F.date_format("o_orderdate", "yyyy"),
            F.lit("-Q"),
            ((F.month("o_orderdate") + 2) / 3).cast("int").cast("string"),
        ).alias("quarter"),
    ).distinct().withColumnRenamed("o_month", "month")
    joined = fact.join(
        F.broadcast(dim), fact.o_month == dim.month
    ).filter(F.col("quarter") == "1996-Q1")
    return (
        joined.groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_month")
    )


_AGG_PUSHDOWN_ORACLE = """
SELECT count(*) AS n_orders,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
"""


@register("source_agg_pushdown", oracle=_AGG_PUSHDOWN_ORACLE, tags=("source", "agg"))
def source_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet AGGREGATE pushdown: a filterless COUNT/MIN/MAX answers
    from row-group FOOTER statistics — the scan node itself returns the
    aggregated values (`PushedAggregation: [COUNT(*), MIN(...), ...]`)
    and zero data pages are decoded. At 100 TB this is the difference
    between a sub-second metadata sweep and a full-table read for the
    "table profile" queries every pipeline health check runs
    (`profile_table_columns` is the general one-pass variant for when
    filters/null-counts make pushdown inapplicable).

    Spark only plans this through the DataSource V2 parquet reader, so
    the query temporarily clears parquet from `useV1SourceList` (and
    restores the previous conf — the driver session runs 50 queries
    after this one). tests/test_sources.py asserts PushedAggregation is
    actually in the executed scan — without the conf dance this would
    silently degrade to a full scan and still return the right answer,
    the worst kind of performance regression."""
    v1_key = "spark.sql.sources.useV1SourceList"
    push_key = "spark.sql.parquet.aggregatePushdown"
    prev_v1 = spark.conf.get(v1_key)
    prev_push = spark.conf.get(push_key)
    spark.conf.set(v1_key, ",".join(
        s for s in prev_v1.split(",") if s and s != "parquet"
    ))
    spark.conf.set(push_key, "true")
    try:
        df = spark.read.parquet(table_path(sf_dir, "orders")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        # force analysis/planning while the conf is active; the returned
        # (lazy) DataFrame keeps the already-planned V2 relation
        df._jdf.queryExecution().executedPlan()
        return df
    finally:
        spark.conf.set(v1_key, prev_v1)
        spark.conf.set(push_key, prev_push)


# ------------------------------ Python DataSource API, STREAMING reader

try:  # Spark 4+ streaming Python DataSource
    from pyspark.sql.datasource import DataSourceStreamReader

    class SynthTickStreamSource(DataSource):
        """Custom STREAMING source via the Python DataSource API — the
        streaming twin of `SynthRangeDataSource`, using the
        EXECUTOR-PARALLEL `DataSourceStreamReader` (not the
        driver-prefetching Simple variant): the driver only tracks
        offsets; `partitions(start, end)` splits each micro-batch's
        offset range into shards and executors run `read()` in
        parallel — the Kafka-consumer split model, reachable from pure
        Python. This is how a bespoke queue/REST/changelog system plugs
        into Structured Streaming without JVM code."""

        @classmethod
        def name(cls) -> str:
            return "synthtick"

        def schema(self) -> str:
            return "id bigint, batch int, fp string"

        def streamReader(self, schema):
            return _SynthTickStreamReader(self.options)

    class _SynthTickStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n", "2000"))
            self.batch = int(options.get("batch", "500"))
            self.parts = int(options.get("partitions", "4"))
            self._latest = 0

        def initialOffset(self) -> dict:
            return {"offset": 0}

        def latestOffset(self) -> dict:
            # one batch-worth of new rows becomes available per poll,
            # until the configured end of stream
            self._latest = min(self._latest + self.batch, self.n)
            return {"offset": self._latest}

        def partitions(self, start: dict, end: dict):
            lo, hi = start["offset"], end["offset"]
            return [
                InputPartition((lo, hi, i, self.parts, self.batch))
                for i in range(self.parts)
            ]

        def read(self, partition):
            import hashlib

            lo, hi, shard, parts, batch = partition.value
            for i in range(lo + shard, hi, parts):
                yield (
                    i,
                    i // batch,
                    hashlib.md5(str(i).encode()).hexdigest(),
                )

        def commit(self, end: dict) -> None:
            pass  # nothing to clean up: the generator is stateless

    _HAS_PY_STREAM_DATASOURCE = True
except ImportError:  # pragma: no cover - older Spark
    _HAS_PY_STREAM_DATASOURCE = False


_PYSTREAM_N = 2000
_PYSTREAM_BATCH = 500

_PYSTREAM_ORACLE = f"""
WITH synth AS (
  SELECT r.range AS id,
         CAST(r.range // {_PYSTREAM_BATCH} AS INTEGER) AS batch,
         md5(CAST(r.range AS VARCHAR)) AS fp
  FROM range({_PYSTREAM_N}) r
)
SELECT count(*) AS n_rows,
       count(DISTINCT batch) AS n_batches,
       CAST(sum(id) AS BIGINT) AS id_sum,
       CAST(sum(CAST(('0x' || substr(fp, 1, 8)) AS UBIGINT) % 1000000007)
            AS BIGINT) AS fp_checksum
FROM synth
"""


@register(
    "source_python_stream_datasource",
    oracle=_PYSTREAM_ORACLE,
    tags=("source", "streaming", "udf"),
)
def source_python_stream_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Python DataSource end-to-end: register the custom
    source, `readStream.format("synthtick")`, drain to a memory sink,
    aggregate the appended rows. Deterministic: 4 micro-batches of 500
    ids each (batch column = arrival micro-batch), so the oracle replays
    every row arithmetically from `range()` and pins content through the
    same md5-prefix checksum as the batch twin.

    Scale shape: offset bookkeeping is driver-side and O(1); row
    production happens in `read()` on executors, one task per shard per
    micro-batch — the same split model as the Kafka source. The memory
    sink is the verification harness; a production run points
    writeStream at the exactly-once parquet sink
    (`streaming/events_stream.py::run_to_parquet_sink`)."""
    if not _HAS_PY_STREAM_DATASOURCE:  # pragma: no cover
        raise NotImplementedError(
            "streaming Python DataSource requires Spark 4+"
        )
    from ..streaming.events_stream import run_to_memory

    try:
        spark.dataSource.register(SynthTickStreamSource)
    except Exception as ex:
        if "already" not in str(ex).lower():  # see SynthRange note
            raise
    stream = (
        spark.readStream.format("synthtick")
        .option("n", str(_PYSTREAM_N))
        .option("batch", str(_PYSTREAM_BATCH))
        .option("partitions", "4")
        .load()
    )
    run_to_memory(stream, "mhs_pystream_ticks", "append")
    out = spark.table("mhs_pystream_ticks")
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("batch").alias("n_batches"),
        F.sum("id").alias("id_sum"),
        F.sum(
            F.conv(F.substring("fp", 1, 8), 16, 10).cast("long") % 1000000007
        ).alias("fp_checksum"),
    )
