"""Structured Streaming verification: the streaming windowed aggregation
must produce the same result as its batch twin (unified API contract), and
session_window must cover all events."""

from __future__ import annotations

from mini_hive_server_spark import registry
from mini_hive_server_spark.streaming.events_stream import (
    hourly_windowed_counts,
    read_events_stream,
    run_to_memory,
    session_window_counts,
)

from .conftest import SF_SMOKE


def test_streaming_hourly_matches_batch(spark):
    stream = read_events_stream(spark, SF_SMOKE)
    run_to_memory(hourly_windowed_counts(stream), "stream_hourly")
    streamed = {
        tuple(r) for r in spark.table("stream_hourly").collect()
    }
    batch_df = registry.queries()["events_tumbling_hourly"](spark, SF_SMOKE)
    batch = {tuple(r) for r in batch_df.collect()}
    assert streamed == batch


def test_session_window_covers_all_events(spark):
    stream = read_events_stream(spark, SF_SMOKE)
    run_to_memory(session_window_counts(stream), "stream_sessions")
    out = spark.table("stream_sessions")
    total = sum(r["n_events"] for r in out.collect())
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert total == n_events
    # sessions are per-user and non-empty
    assert out.filter("n_events <= 0").count() == 0


def test_user_running_stats_matches_batch(spark):
    """The custom applyInPandasWithState operator's final per-user state
    must equal the batch groupBy over the same data."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.streaming.events_stream import user_running_stats

    stream = read_events_stream(spark, SF_SMOKE)
    run_to_memory(user_running_stats(stream), "stream_user_stats", output_mode="update")
    # update mode: keep the last emit per user
    out = spark.table("stream_user_stats")
    w_latest = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
    )
    streamed = {(r.user_id, r.n_events) for r in w_latest.collect()}
    batch = {
        (r.user_id, r.n)
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == batch


def test_foreach_batch_parquet_sink_exactly_once(spark, tmp_path):
    """The foreachBatch parquet sink must (a) land exactly the source rows
    and (b) be idempotent under replay: re-running the same stream over
    the same checkpoint must write nothing new (offsets already
    committed), which is the exactly-once property a crash-restart relies
    on."""
    import os

    from mini_hive_server_spark.catalog import load_tables
    from mini_hive_server_spark.streaming.events_stream import (
        run_to_parquet_sink,
    )

    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, SF_SMOKE)
    run_to_parquet_sink(stream, out, ckpt)
    landed = spark.read.parquet(out)
    src = load_tables(spark, SF_SMOKE)["events"]
    assert landed.count() == src.count()
    # same rows, not just the same count (compare on the full key)
    assert (
        landed.select("event_id").exceptAll(src.select("event_id")).count() == 0
    )
    snapshot = sorted(os.listdir(out))
    # replay against the SAME checkpoint: all offsets committed -> no-op
    stream2 = read_events_stream(spark, SF_SMOKE)
    run_to_parquet_sink(stream2, out, ckpt)
    assert sorted(os.listdir(out)) == snapshot
    assert spark.read.parquet(out).count() == src.count()


def test_streaming_dedup_matches_batch_distinct(spark):
    """dropDuplicatesWithinWatermark over the static fixture must emit
    exactly the batch DISTINCT on the dedup key."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.streaming.events_stream import (
        streaming_dedup_watermark,
    )

    streamed = {
        (r.event_type, r.n_unique)
        for r in streaming_dedup_watermark(spark, SF_SMOKE).collect()
    }
    from mini_hive_server_spark.catalog import load_tables

    batch = {
        (r.event_type, r.n)
        for r in load_tables(spark, SF_SMOKE)["events"]
        .select("user_id", "event_type", "ts")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == batch


def test_tws_registration_tracks_protobuf_presence():
    """The tws twin's registration is presence-gated, not hand-toggled:
    `streaming_user_running_stats_tws` must be registered exactly when
    `tws_available()` — so if the image ever gains protobuf, the query
    enters the oracle gate automatically and this suite's skip
    self-heals (VERDICT r11 #8)."""
    from mini_hive_server_spark import registry
    from mini_hive_server_spark.streaming.events_stream import tws_available

    assert (
        "streaming_user_running_stats_tws" in registry.all_specs()
    ) == tws_available()


def test_transform_with_state_twin_matches_batch(spark, sf_dir):
    """Spark-4 transformWithStateInPandas twin of user_running_stats:
    runs when the environment provides protobuf (the API's Python-runner
    dependency), otherwise skips with the documented gate."""
    import pytest

    from mini_hive_server_spark.streaming.events_stream import (
        read_events_stream,
        run_to_memory,
        tws_available,
        user_running_stats_tws,
    )

    if not tws_available():
        pytest.skip(
            "protobuf absent: transformWithStateInPandas' Python runner "
            "cannot start in this image (events_stream.tws_available)"
        )
    from pyspark.sql import functions as F

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, sf_dir)
        run_to_memory(
            user_running_stats_tws(stream), "mhs_stream_tws_stats", "update"
        )
        out = spark.table("mhs_stream_tws_stats")
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        final = (
            out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events")
        )
        from mini_hive_server_spark.catalog import load_tables

        batch = (
            load_tables(spark, sf_dir)["events"]
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        got = {r.user_id: r.n_events for r in final.collect()}
        want = {r.user_id: r.n_events for r in batch.collect()}
        assert got == want
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_stateful_streams_on_rocksdb_state_store(spark):
    """The default HDFS-backed state store keeps all key state on the
    executor HEAP — fine for the fixture, an OOM at 100 TB key
    cardinality. Production stateful streaming runs on the RocksDB
    provider (state spills to local disk, bounded memory; bundled
    rocksdbjni, no extra deps). Run a windowed aggregation AND a
    watermark dedup under RocksDBStateStoreProvider and pin their
    results equal to the default-provider/batch answers — proving the
    engine's streaming tier is state-backend-agnostic, so switching the
    backend at scale is a conf change, not a rewrite."""
    from pyspark.sql import functions as F

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, SF_SMOKE)
        run_to_memory(hourly_windowed_counts(stream), "rocks_hourly")
        got_hourly = {tuple(r) for r in spark.table("rocks_hourly").collect()}

        deduped = (
            read_events_stream(spark, SF_SMOKE)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["user_id", "event_type", "ts"])
        )
        run_to_memory(deduped, "rocks_dedup", "append")
        got_dedup = (
            spark.table("rocks_dedup")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_unique"))
        )
        got_dedup = {tuple(r) for r in got_dedup.collect()}
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)

    batch_hourly = {
        tuple(r)
        for r in registry.queries()["events_tumbling_hourly"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got_hourly == batch_hourly

    batch_dedup = {
        tuple(r)
        for r in registry.queries()["streaming_dedup_watermark"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got_dedup == batch_dedup
