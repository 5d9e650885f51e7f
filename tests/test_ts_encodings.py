"""Regression guard for events.ts fixture-encoding drift.

The driver's fixture generator changed events.ts from Parquet
TIMESTAMP(NANOS) (rounds 1-2) to timestamp[us] (round 3), which broke the
batch reader loudly (unix_micros on TIMESTAMP_NTZ) and the streaming source
silently (LongType schema + div 1000 compressed every timestamp 1000x).
This test writes the same logical rows in all three plausible encodings and
asserts BOTH readers decode them to identical values, so the next encoding
flip fails here instead of in the driver gate: the batch reader binds
TIMESTAMP_NTZ holding UTC wall-clock time, the stream reader TIMESTAMP
instants. One row falls inside America/New_York's DST gap, and both readers
run under UTC and under New York with identical results.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from mini_hive_server_spark.catalog import (
    _read_events,
    events_ts_encoding,
    ntz_micros,
    utc_text,
)
from mini_hive_server_spark.streaming.events_stream import (
    read_events_stream,
    run_to_memory,
)

# logical rows: microsecond-precision timestamps on 2024-01-01, plus
# 2024-03-10 02:30:00.25 UTC wall clock, inside New York's DST gap
_US = [1704067200_000000, 1704067260_500000, 1704070860_250000, 1710037800_250000]
_ROWS = {
    "event_id": [0, 1, 2, 3],
    "user_id": [10, 11, 10, 11],
    "event_type": ["click", "purchase", "click", "click"],
    "value": [1.5, 2.5, 3.5, 4.5],
    "props": ['{"k": 1}', '{"k": 2}', '{"k": 3}', '{"k": 4}'],
}
_ZONES = ("UTC", "America/New_York")


def _in_zone(spark, zone: str):
    session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", zone)
    return session


def _write(dirname: str, ts_array: pa.Array) -> str:
    os.makedirs(dirname, exist_ok=True)
    table = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(dirname, "events.parquet"))
    return dirname


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("ts_encodings")
    dirs = {}
    dirs["ns"] = _write(
        str(base / "ns"), pa.array([u * 1000 for u in _US], pa.timestamp("ns"))
    )
    dirs["ntz_us"] = _write(str(base / "ntz_us"), pa.array(_US, pa.timestamp("us")))
    dirs["ltz"] = _write(
        str(base / "ltz"), pa.array(_US, pa.timestamp("us", tz="UTC"))
    )
    return dirs


def test_probe_identifies_each_encoding(encoded_dirs):
    for kind, d in encoded_dirs.items():
        assert events_ts_encoding(d) == kind, f"probe misread {d}"


def test_batch_reader_normalizes_all_encodings(encoded_dirs, spark):
    results = {}
    for zone in _ZONES:
        session = _in_zone(spark, zone)
        for kind, d in encoded_dirs.items():
            df = _read_events(session, d)
            assert dict(df.dtypes)["ts"] == "timestamp_ntz", f"{kind}: {df.dtypes}"
            results[zone, kind] = sorted(
                (r.event_id, r.ts.isoformat(), r.us)
                for r in df.select("event_id", "ts", ntz_micros("ts").alias("us")).collect()
            )
    assert len({tuple(rows) for rows in results.values()}) == 1, results
    rows = results["UTC", "ntz_us"]
    # the intended microsecond instants, not 1000x off, DST gap included
    assert [us for _, _, us in rows] == _US
    assert rows[0][1] == "2024-01-01T00:00:00"
    assert rows[-1][1] == "2024-03-10T02:30:00.250000"


def test_stream_reader_normalizes_all_encodings(encoded_dirs, spark):
    results = {}
    for zone in _ZONES:
        session = _in_zone(spark, zone)
        for kind, d in encoded_dirs.items():
            stream = read_events_stream(session, d)
            assert dict(stream.dtypes)["ts"] == "timestamp", f"{kind}: {stream.dtypes}"
            sink = f"ts_enc_{kind}"
            run_to_memory(stream, sink, output_mode="append")
            out = session.table(sink).select(
                "event_id", F.unix_micros("ts").alias("us"), utc_text("ts").alias("text")
            )
            results[zone, kind] = sorted(tuple(r) for r in out.collect())
    assert len({tuple(rows) for rows in results.values()}) == 1, results
    rows = results["UTC", "ntz_us"]
    assert [us for _, us, _ in rows] == _US
    assert rows[-1][2] == "2024-03-10 02:30:00"


def test_current_fixture_decodes_to_timestamp(spark):
    from .conftest import SF_SMOKE

    df = _read_events(spark, SF_SMOKE)
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    # sanity: fixture timestamps are in a real epoch range (2020s), not
    # 1970-adjacent garbage from a mis-decoded int64
    row = df.selectExpr("min(year(ts)) AS y0", "max(year(ts)) AS y1").first()
    assert 2000 <= row.y0 <= row.y1 <= 2100
