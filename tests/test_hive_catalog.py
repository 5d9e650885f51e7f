"""Real Hive-metastore integration (BASELINE's "Spark SQL + Hive metastore"
path): DDL written through an ``enableHiveSupport()`` session (embedded
Derby under /tmp) must persist in the metastore and be readable by a LATER
JVM with no re-registration — the property the in-memory session catalog
cannot provide.

``spark.sql.catalogImplementation`` is a static conf fixed at the JVM's
first session, and the pytest process already owns an in-memory-catalog
session — so each phase runs in its own subprocess JVM: phase A writes the
DDL (managed tables + a bucketed table), phase B proves the catalog
survived.
"""

from __future__ import annotations

import shutil
import subprocess
import sys

METASTORE = "/tmp/mhs_hive_it_metastore"
WAREHOUSE = "/tmp/mhs_hive_it_warehouse"
DB = "mhs_hive_it"

_PHASE_A = f"""
import shutil
shutil.rmtree({METASTORE!r}, ignore_errors=True)
shutil.rmtree({WAREHOUSE!r}, ignore_errors=True)
from mini_hive_server_spark.session import get_hive_spark
spark = get_hive_spark(warehouse_dir={WAREHOUSE!r}, metastore_dir={METASTORE!r},
                       shuffle_partitions=4)
assert spark.conf.get("spark.sql.catalogImplementation") == "hive"
spark.sql("CREATE DATABASE IF NOT EXISTS {DB} LOCATION '{WAREHOUSE}/{DB}'")
df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
df.write.mode("overwrite").format("parquet").saveAsTable("{DB}.region")
orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
(orders.write.mode("overwrite").format("parquet")
 .bucketBy(4, "o_custkey").sortBy("o_custkey")
 .saveAsTable("{DB}.orders_bucketed"))
# gather CBO statistics into the metastore (table + column level) — on a
# cluster this is the post-load step that feeds join reordering and
# broadcast decisions; phase B asserts they survive the JVM restart
spark.sql("ANALYZE TABLE {DB}.region COMPUTE STATISTICS")
spark.sql("ANALYZE TABLE {DB}.region COMPUTE STATISTICS FOR COLUMNS r_regionkey, r_name")
print("PHASE_A_ROWS", spark.sql("SELECT count(*) AS n FROM {DB}.region").first().n)
spark.stop()
"""

_PHASE_B = f"""
from mini_hive_server_spark.session import get_hive_spark
spark = get_hive_spark(warehouse_dir={WAREHOUSE!r}, metastore_dir={METASTORE!r},
                       shuffle_partitions=4)
assert spark.conf.get("spark.sql.catalogImplementation") == "hive"
# no CREATE/registration in this JVM: the metastore must already know both
tables = {{t.name for t in spark.catalog.listTables("{DB}")}}
assert "region" in tables and "orders_bucketed" in tables, tables
print("PHASE_B_ROWS", spark.sql("SELECT count(*) AS n FROM {DB}.region").first().n)
desc = {{r.col_name: r.data_type
        for r in spark.sql("DESCRIBE EXTENDED {DB}.orders_bucketed").collect()}}
assert desc.get("Num Buckets") == "4", desc
assert "o_custkey" in desc.get("Bucket Columns", ""), desc
agg = spark.sql(
    "SELECT o_custkey, count(*) AS n FROM {DB}.orders_bucketed "
    "GROUP BY o_custkey").limit(5).collect()
assert len(agg) > 0
# CBO statistics: phase A ran ANALYZE TABLE ... COMPUTE STATISTICS (table
# + columns); the stats must be served from the metastore by THIS JVM and
# carry exact rowCounts (the input the cost-based optimizer joins/orders
# by on a cluster).
stats = {{r.col_name: r.data_type
         for r in spark.sql("DESCRIBE EXTENDED {DB}.region").collect()}}
assert "5 rows" in stats.get("Statistics", ""), stats
col_desc = spark.sql(
    "DESCRIBE EXTENDED {DB}.region r_regionkey").collect()
col_stats = {{r.info_name: r.info_value for r in col_desc}}
assert col_stats.get("distinct_count") == "5", col_stats
assert col_stats.get("max") == "4", col_stats
print("PHASE_B_OK")
spark.stop()
"""


def _run(script: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, f"stdout={proc.stdout}\nstderr={proc.stderr[-3000:]}"
    return proc.stdout


def test_hive_metastore_ddl_survives_jvm_restart():
    if shutil.which("java") is None and not sys.platform.startswith("linux"):
        return  # no JVM — environment guard only; CI image always has one
    out_a = _run(_PHASE_A)
    assert "PHASE_A_ROWS 5" in out_a, out_a
    out_b = _run(_PHASE_B)
    assert "PHASE_B_ROWS 5" in out_b, out_b
    assert "PHASE_B_OK" in out_b, out_b

def test_create_managed_tables_refreshes_on_sf_switch(spark):
    """Round-10 self-review: 'tableExists → skip' is NOT 'current' — the
    metastore persists across JVMs, so a table created from a different
    sf_dir would silently serve the OLD scale factor's rows to every SQL
    client forever. The wrapper now compares the table location (which
    embeds the sf name) and rewrites on mismatch; same-sf re-creates stay
    the cheap skip path. Events must also arrive ts-normalized (the raw
    read bypassed _read_events and could fault on nanos-vintage fixtures
    or store another ts type than the view path's TIMESTAMP_NTZ)."""
    from mini_hive_server_spark.catalog import create_managed_tables

    db = "mhs_stale_check"
    tabs = ("region", "customer", "events")
    try:
        create_managed_tables(spark, "/root/testdata/sf0.001", database=db, tables=tabs)
        n_before = spark.table(f"{db}.customer").count()
        # ts normalization reached the managed table
        assert dict(spark.table(f"{db}.events").dtypes)["ts"] == "timestamp_ntz"
        create_managed_tables(spark, "/root/testdata/sf0.01", database=db, tables=tabs)
        n_after = spark.table(f"{db}.customer").count()
        assert n_after > n_before, (
            "sf switch must rewrite the managed table, not skip it as existing"
        )
        # idempotent same-sf re-create keeps serving the same data
        create_managed_tables(spark, "/root/testdata/sf0.01", database=db, tables=("customer",))
        assert spark.table(f"{db}.customer").count() == n_after
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
