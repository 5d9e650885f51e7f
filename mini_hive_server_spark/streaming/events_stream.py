"""Structured Streaming over the events fixture — SURVEY.md §2.9.

The reference's closest analog to a stream is the append-only notifications
feed (index.js:53-60 write, index.js:226-238 consumer-filtered time-desc
read). Here the same data shape is processed as a true stream: parquet files as
a file-stream source, event-time windows with watermarks for late data, and
the native `session_window` stateful aggregation.

In production the source line is the only thing that changes
(`readStream.format("kafka")...`); the transformations are identical —
that's the point of the unified batch/streaming DataFrame API. Memory sinks
below are for deterministic local verification; real sinks would be
`writeStream.format("parquet").option("checkpointLocation", ...)` with
exactly-once file commits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import events_ts_micros, session_with, table_path, utc_text
from ..operators import behavior, ingest
from ..operators.windows import _SESSION_GAP_US
from ..registry import register


def _events_schema(ts_type: T.DataType) -> T.StructType:
    # Explicit schema — a streaming source never infers (each micro-batch
    # must agree). The ts field's physical type varies by fixture vintage;
    # events_ts_encoding probes the footer so the declared schema always
    # matches the files (a mismatched LongType vs timestamp[us] silently
    # mis-decodes).
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """File-stream source over the events parquet, ts bound as a TIMESTAMP
    instant built from the epoch micros of the batch reader's decode
    (catalog.events_ts_micros), so batch and streaming cannot diverge on
    decode. Watermarks need TIMESTAMP (an NTZ event time fails analysis),
    and `timestamp_micros` reads no zone. `glob` widens the file pin for
    staged source dirs that add files beside the events copy (the flush
    sentinel)."""
    kind, micros = events_ts_micros(spark, sf_dir)
    ts_type = {"ns": T.LongType(), "ntz_us": T.TimestampNTZType()}.get(
        kind, T.TimestampType()
    )
    # the file-stream source requires a directory: stream the fixture dir
    # with a glob pinned to the events file
    raw = (
        spark.readStream.schema(_events_schema(ts_type))
        .format("parquet")
        .option("pathGlobFilter", glob)
        .load(sf_dir)
    )
    return raw.withColumn("ts", F.timestamp_micros(micros))


def hourly_windowed_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window aggregation (the streaming twin of the
    batch `events_tumbling_hourly` query — same logical plan modulo the
    watermark operator)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            utc_text("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_window_counts(events: DataFrame) -> DataFrame:
    """Native stateful sessionization: `session_window(ts, gap)` merges
    events within a 30-minute inactivity gap per user."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            utc_text("sw.start").alias("session_start"),
            "n_events",
        )
    )


USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via `applyInPandasWithState`: per-user
    running (count, sum, max) over the stream, state carried across
    micro-batches in an explicit GroupState. This is the escape hatch for
    stateful logic the built-in windows can't express (per-key model state,
    custom eviction, CEP-ish patterns); the built-ins above remain the
    first choice (SURVEY.md §2.10 — UDFs are the sanctioned slow path).

    Scale shape: state is partitioned by the grouping key across executors
    (same shuffle as a streaming groupBy) and lives in the state store;
    Arrow batches per key-group keep the Python crossing vectorized.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total, mx = (
            state.get if state.exists else (0, 0.0, float("-inf"))
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, total, mx))
        import pandas as pd

        # raw running total — presentation rounding happens JVM-side in the
        # wrapper (Python round() is banker's; F.round matches the oracle)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "max_value": [mx],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_parquet_sink(
    stream: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Production sink path: drive the stream into a Parquet table via
    `foreachBatch` with an explicit checkpoint. Exactly-once comes from
    the pairing of (a) the checkpoint's write-ahead log recording which
    source offsets each batch_id covers and (b) the idempotent per-batch
    write — a batch replayed after a crash overwrites its own output
    partition (`batch_id=N`) instead of appending duplicates. This is the
    bronze-layer ingest shape; the memory sinks elsewhere in this module
    exist only for deterministic in-test verification.

    At scale the same code lands on object storage with a cluster-visible
    checkpoint dir; nothing else changes."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


# Every registered stream runs in a clone of its caller's session
# (catalog.session_with) whose stateful shuffle has 32 partitions: a
# vanilla session's 200 default means 200 state-store instances
# initialized and committed per micro-batch, pure per-partition overhead
# against the fixture's ~150 keys (measured in the driver-like session:
# streaming CDC merge 15.1s → 1.8s, running stats 7.5s → 2.0s). The
# count is captured at stream start and is result-invariant: it only
# re-buckets the state hash partitioning. At production you size it to
# key cardinality × state size, exactly like any other shuffle.
_STREAM_CONF = {"spark.sql.shuffle.partitions": "32"}


def run_to_memory(
    agg: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drive a streaming aggregation to completion over the static fixture
    (processAllAvailable = deterministic local run), results in the
    `query_name` in-memory table of the stream's session."""
    spark = agg.sparkSession
    try:
        # idempotent re-runs: a lingering memory-sink table from a previous
        # invocation in the same session would collide on queryName
        spark.catalog.dropTempView(query_name)
    except Exception:
        pass
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


_USER_STATS_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       max(value) AS max_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "streaming_user_running_stats",
    oracle=_USER_STATS_ORACLE,
    tags=("streaming",),
)
def streaming_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper for the custom stateful operator: runs the
    events file-stream through `user_running_stats` to a memory sink and
    returns the final per-user state. Oracle-paired: after the stream
    drains the static fixture, the last emission per user must equal the
    batch groupBy over the same rows — count, sum (rounded at
    presentation), max. Intermediate emit timing stays unchecked (not
    SQL-expressible); the per-micro-batch path is exercised by the pytest
    gate."""
    spark = session_with(spark, _STREAM_CONF)
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(user_running_stats(stream), "mhs_stream_user_stats", "update")
    out = spark.table("mhs_stream_user_stats")
    # update-mode emits accumulate one row per (user, micro-batch); the
    # final state is the LAST emission per user — the row with the highest
    # running n_events (strictly increasing across a user's emissions).
    # Selecting that whole row keeps the columns consistent; independent
    # per-column max() would fabricate a state no batch ever emitted once
    # values can decrease (e.g. negative amounts) across multiple batches.
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
            "max_value",
        )
        .orderBy("user_id")
    )


# `>=`, not the batch sessionizers' `>`: session_window's interval is
# half-open, so a gap of exactly 30 minutes starts a new session
_STREAM_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR epoch_us(CAST(ts AS TIMESTAMP))
                   - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) >= {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM ordered
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "streaming_sessionize",
    oracle=_STREAM_SESSION_ORACLE,
    tags=("streaming", "event-time"),
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native stateful sessionization on the STREAM: `session_window(ts,
    '30 minutes')` merges events whose windows overlap, per user; the
    driver-facing result rolls the sessions up per user (session count +
    event count) after draining the fixture in complete mode.

    Oracle nuance: `session_window` treats an event landing EXACTLY at
    last_event + gap as a NEW session (windows are half-open
    `[t, t+gap)`, and merge requires overlap), so the gaps-and-islands
    oracle uses `>=` on the gap where the batch `events_sessionize`
    twin (lag-based, Mongo-ish "strictly more than 30 minutes idle")
    uses `>` — the two definitions differ only on exact-boundary events,
    and BOTH are driver-gated so a drift in either shows up."""
    spark = session_with(spark, _STREAM_CONF)
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(session_window_counts(stream), "mhs_stream_sessions", "complete")
    out = spark.table("mhs_stream_sessions")
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


_STREAM_DEDUP_ORACLE = """
SELECT event_type, count(*) AS n_unique
FROM (
  SELECT DISTINCT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
  FROM events
)
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "streaming_dedup_watermark",
    oracle=_STREAM_DEDUP_ORACLE,
    tags=("streaming", "dedup"),
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with bounded state:
    `dropDuplicatesWithinWatermark` keeps one row per (user_id, event_type,
    ts) key and — unlike plain `dropDuplicates` on a stream, whose state
    grows forever — evicts key state once the watermark passes it. This is
    the ingest-time dedup stage of a training-data pipeline: at 100 TB/day
    the state store only ever holds one watermark-interval of keys per
    partition, and the dedup shuffle is the same hash-partition-by-key
    exchange the batch tier uses.

    Oracle-paired: over the static fixture every row lands in one
    micro-batch, so the appended output is exactly the batch DISTINCT —
    checked per event_type after running the stream to completion."""
    spark = session_with(spark, _STREAM_CONF)
    stream = read_events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )
    run_to_memory(deduped, "mhs_stream_dedup", "append")
    out = spark.table("mhs_stream_dedup")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


# the stream-stream attribution oracles' click side `c`, purchase side
# `p`, and their one-hour pairing condition: the twin of _click_purchases
_SS_SIDES_SQL = """c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
)"""
_SS_ON_SQL = """ON p.user_id = c.user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR"""

_STREAM_SS_JOIN_ORACLE = f"""
WITH {_SS_SIDES_SQL}
SELECT c.user_id,
       count(*) AS n_pairs,
       round(sum(p.value), 2) AS purchase_value
FROM c JOIN p
  {_SS_ON_SQL}
GROUP BY c.user_id
ORDER BY c.user_id
"""


def _click_purchases(
    clicks: DataFrame, purchases: DataFrame, how: str
) -> DataFrame:
    """Each click (user_id, click_ts) paired with the same user's
    purchases (p_user_id, purchase_ts, ...) in the hour after it."""
    return clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )


@register(
    "streaming_stream_stream_join",
    oracle=_STREAM_SS_JOIN_ORACLE,
    tags=("streaming", "join"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join (click → purchase attribution): two live
    streams joined on user with an event-time range constraint
    (purchase within one hour after the click). Watermarks on BOTH sides
    plus the time-range predicate are what let Spark bound the join state:
    a buffered click can be evicted once the purchase-side watermark
    passes click_ts + 1h — without them, stream-stream join state grows
    forever. This is the attribution/funnel workhorse shape; at 100 TB/day
    state per key stays one constraint-window wide and the join is the
    same user_id hash exchange as the batch twin.

    Oracle-paired: over the static fixture (one micro-batch drained to
    completion) the appended pairs equal the batch time-range join; both
    engines compare at microsecond precision (the stream truncates the
    fixture's nanosecond timestamps; the oracle CASTs to DuckDB's µs
    TIMESTAMP)."""
    spark = session_with(spark, _STREAM_CONF)
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    pairs = _click_purchases(clicks, purchases, "inner")
    run_to_memory(pairs, "mhs_stream_ss_join", "append")
    out = spark.table("mhs_stream_ss_join")
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("value"), 2).alias("purchase_value"),
        )
        .orderBy("user_id")
    )


_STREAM_ENRICH_ORACLE = """
SELECT c_mktsegment, event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "streaming_static_enrich",
    oracle=_STREAM_ENRICH_ORACLE,
    tags=("streaming", "join"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer
    dimension (broadcast — the static side is re-read per micro-batch, so
    a broadcast hash join keeps it off the shuffle path), then aggregate
    per (segment, event_type). The standard streaming-ETL enrichment
    shape: dimension lookups against a slowly-changing table while facts
    stream through. Oracle-paired: over the static fixture the complete-
    mode result equals the batch join + aggregate."""
    spark = session_with(spark, _STREAM_CONF)
    stream = read_events_stream(spark, sf_dir)
    cust = (
        spark.read.parquet(table_path(sf_dir, "customer"))
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    agg = (
        stream.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    run_to_memory(agg, "mhs_stream_enrich", "complete")
    return spark.table("mhs_stream_enrich").orderBy("c_mktsegment", "event_type")


# -------------------------------------------- left-outer stream-stream join

def stage_events_with_flush_sentinel(sf_dir: str) -> str:
    """Copy the events file into a scratch stream-source directory and add
    a one-row sentinel parquet whose ts sits 2 hours past the corpus max.

    Stream-stream OUTER joins emit their null rows only when the
    watermark passes a buffered row's match-window — so over a FINITE
    source the newest unmatched rows sit in state forever and the
    drained result depends on internal watermark propagation, not on the
    data. The sentinel is the deterministic fix: it advances the
    watermark past every real row's expiry, every orphan is emitted, and
    the drained stream equals the batch left join exactly. In production
    the stream is infinite and the watermark does this continuously; the
    sentinel is the standard end-of-stream flush for bounded replays and
    backfills.

    The sentinel is written with the SOURCE FILE's own arrow schema, so
    all three historical ts encodings (ns, ntz-µs, tz-µs) stay
    readable under the single declared schema the source requires."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..sources.connectors import _tmp_dir

    import json

    src = os.path.join(sf_dir, "events.parquet")
    out = _tmp_dir(sf_dir, "events_flush_src")
    os.makedirs(out, exist_ok=True)
    dst = os.path.join(out, "events.parquet")
    # freshness via an EXACT source-stat manifest, not mtime ordering: a
    # fixture regenerated with preserved timestamps (tar -x, rsync -a)
    # can be OLDER than the staged copy, which an ordering check would
    # silently keep serving. The manifest is written
    # LAST, after both files land via atomic os.replace, so an
    # interrupted run leaves no manifest and regenerates cleanly instead
    # of streaming a torn parquet fragment.
    manifest = os.path.join(out, "staged.json")
    st = os.stat(src)
    want = {"mtime_ns": st.st_mtime_ns, "size": st.st_size}
    try:
        with open(manifest) as f:
            fresh = json.load(f) == want
    except (OSError, ValueError):
        fresh = False
    sentinel = os.path.join(out, "sentinel.parquet")
    if fresh and os.path.exists(dst) and os.path.exists(sentinel):
        return out
    tmp_dst = dst + ".tmp"
    shutil.copyfile(src, tmp_dst)
    os.replace(tmp_dst, dst)
    tbl = pq.read_table(src, columns=["ts"])
    schema = pq.read_schema(src)
    ts_type = schema.field("ts").type
    if pa.types.is_timestamp(ts_type):
        two_h = pa.scalar(
            7200 * 10 ** {"s": 0, "ms": 3, "us": 6, "ns": 9}[ts_type.unit],
            pa.duration(ts_type.unit),
        )
        flush_ts = pc.add(pc.max(tbl["ts"]), two_h)
    else:  # ns-as-int64 vintage
        flush_ts = pc.add(pc.max(tbl["ts"]), pa.scalar(7200 * 10 ** 9, ts_type))
    # one sentinel row PER JOIN SIDE, typed to pass that side's filter:
    # Catalyst pushes deterministic predicates below the
    # EventTimeWatermark node, so a row that fails the event_type
    # filter never reaches the watermark stats — a neutral
    # '__flush__' type advances nothing (measured; the first cut of
    # this helper did exactly that). The impossible user_id = -1
    # keeps sentinel rows out of every real join group; the query
    # filters them from its output.
    row = {
        "event_id": [-1, -2],
        "ts": pa.array([flush_ts.as_py(), flush_ts.as_py()], ts_type),
        "user_id": [-1, -1],
        "event_type": ["click", "purchase"],
        "value": [0.0, 0.0],
        "props": ["{}", "{}"],
    }
    pq.write_table(pa.table(row, schema=schema), sentinel + ".tmp", version="2.6")
    os.replace(sentinel + ".tmp", sentinel)
    with open(manifest + ".tmp", "w") as f:
        json.dump(want, f)
    os.replace(manifest + ".tmp", manifest)
    return out


_STREAM_SS_LEFT_JOIN_ORACLE = f"""
WITH {_SS_SIDES_SQL}
SELECT c.user_id,
       count(*) AS n_rows,
       count(p.value) AS n_matched,
       count(*) FILTER (WHERE p.value IS NULL) AS n_orphan_clicks,
       round(sum(coalesce(p.value, 0)), 2) AS purchase_value
FROM c LEFT JOIN p
  {_SS_ON_SQL}
GROUP BY c.user_id
ORDER BY c.user_id
"""


@register(
    "streaming_stream_stream_left_join",
    oracle=_STREAM_SS_LEFT_JOIN_ORACLE,
    tags=("streaming", "join"),
)
def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM LEFT OUTER join: the attribution join that also
    reports unconverted clicks — each click with no purchase inside its
    one-hour window emits a null-extended row once the watermark proves
    no qualifying purchase can still arrive. This is the harder half of
    stream-stream joins: inner results flow as matches happen, but outer
    rows exist only through state EVICTION, so watermarks on both sides
    plus the time-range constraint are load-bearing for correctness, not
    just for state size.

    The source is staged with an end-of-stream flush sentinel
    (`stage_events_with_flush_sentinel`): over a bounded replay the
    sentinel advances the watermark past every click's window so ALL
    orphans emit and the drained result equals the batch left join — the
    exact oracle. The sentinel ships one click-typed and one
    purchase-typed row under an impossible user id because Catalyst
    pushes the event-type filter BELOW the EventTimeWatermark node — a
    neutral sentinel type never reaches the watermark stats (measured;
    see stage_events_with_flush_sentinel). Sentinel rows are dropped
    from the output. State stays one constraint-window wide per user,
    same as the inner variant."""
    spark = session_with(spark, _STREAM_CONF)
    src_dir = stage_events_with_flush_sentinel(sf_dir)

    def side(event_type: str) -> DataFrame:
        # watermark attaches upstream of the type filter: the sentinel
        # must pass through the EventTimeWatermark node to advance the
        # clock, then drop out of the join input
        return (
            read_events_stream(spark, src_dir, glob="*.parquet")
            .withWatermark("ts", "10 minutes")
            .filter(F.col("event_type") == event_type)
        )

    clicks = side("click").select("user_id", F.col("ts").alias("click_ts"))
    purchases = side("purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    pairs = _click_purchases(clicks, purchases, "leftOuter")
    run_to_memory(pairs, "mhs_stream_ss_left_join", "append")
    # drop the sentinel rows (user_id = -1) staged to drive the watermark
    out = spark.table("mhs_stream_ss_left_join").filter(F.col("user_id") >= 0)
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("value").alias("n_matched"),
            F.count_if(F.col("value").isNull()).alias("n_orphan_clicks"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("purchase_value"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------ streaming CDC merge

_CDC_OUT_SCHEMA = (
    "user_id long, ts_us long, eid long, last_type string, "
    "last_value double, n_changes long"
)
_CDC_STATE_SCHEMA = (
    "ts_us long, eid long, last_type string, last_value double, n_changes long"
)


def _with_ts_us(events: DataFrame) -> DataFrame:
    """Events with ts as epoch micros (`ts_us`) for a pandas kernel: the
    Arrow hand-off renders a TIMESTAMP as wall-clock time in the session
    zone, `unix_micros` reads the instant."""
    return events.withColumn("ts_us", F.unix_micros("ts")).drop("ts")


def cdc_merge_state(events: DataFrame) -> DataFrame:
    """Streaming twin of `ingest_cdc_merge`: per-key latest-wins upsert
    state maintained across micro-batches in a GroupState — the standing
    materialized view a CDC stream feeds (Kafka→state-store upsert). The
    state carries the latest (version, image) per key plus a change
    count; version order is (ts, event_id), so arrival order across and
    within micro-batches is irrelevant — replaying the same changelog in
    any batching yields the same final state (pinned by the oracle being
    the BATCH merge's SQL).

    Scale shape: same key-hash shuffle as a streaming groupBy; state is
    one row per live key in the state store (RocksDB at production
    scale), Arrow-batched across the Python crossing."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        if state.exists:
            ts_us, eid, ltype, lval, n = state.get
            have = True
        else:
            # no in-band sentinel: the old (-1, -1) init meant a key whose
            # ENTIRE changelog is pre-epoch (ts_us <= -2) could never win
            # the version comparison and was silently dropped — breaking
            # the pre-epoch exactness this file's ns decode pays for
            ts_us, eid, ltype, lval, n = 0, 0, None, None, 0
            have = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            t = pdf["ts_us"].values.astype("int64")
            e = pdf["event_id"].values.astype("int64")
            last = np.lexsort((e, t))[-1]
            if not have or (int(t[last]), int(e[last])) > (ts_us, eid):
                ts_us, eid = int(t[last]), int(e[last])
                ltype = str(pdf["event_type"].values[last])
                lval = float(pdf["value"].values[last])
                have = True
        if not have:
            # invoked with only empty batches and no prior state: persist
            # or emit nothing. The (0, 0, None, None, 0) init is a local
            # placeholder, not real state — writing it would let a later
            # restore treat (ts=0, eid=0) as a genuine version that
            # outranks pre-epoch events, the exact bug class the
            # sentinel-free init rules out (unreachable with NoTimeout,
            # latent if a timeout mode is ever enabled)
            return
        state.update((ts_us, eid, ltype, lval, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "ts_us": [ts_us],
                "eid": [eid],
                "last_type": [ltype],
                "last_value": [lval],
                "n_changes": [n],
            }
        )

    return _with_ts_us(events).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_CDC_OUT_SCHEMA,
        stateStructType=_CDC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "streaming_cdc_merge",
    oracle=ingest._CDC_MERGE_ORACLE,
    tags=("streaming", "cdc"),
)
def streaming_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: stream the events changelog through
    `cdc_merge_state`, take each key's final state (n_changes is strictly
    increasing across a key's emissions), apply the tombstone filter
    AFTER version selection (a delete must win over older upserts), and
    render identically to the batch merge — the oracle IS the batch
    merge's SQL, pinning stream/batch semantic equivalence."""
    spark = session_with(spark, _STREAM_CONF)
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(cdc_merge_state(stream), "mhs_stream_cdc_merge", "update")
    out = spark.table("mhs_stream_cdc_merge")
    w = Window.partitionBy("user_id").orderBy(F.col("n_changes").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("last_type") != "error"))
        .select(
            "user_id",
            "last_type",
            F.round("last_value", 2).alias("last_value"),
            "n_changes",
            utc_text(F.timestamp_micros("ts_us")).alias("last_ts"),
        )
        .orderBy("user_id")
    )


# -------------------------------------------- streaming CEP error bursts

_CEP_OUT_SCHEMA = (
    "user_id long, n_seen long, n_bursts long, longest_burst long, "
    "n_recovered long"
)
_CEP_STATE_SCHEMA = (
    "cur_type string, run_len long, n_bursts long, longest long, "
    "n_recovered long, n_seen long"
)


def cep_burst_state(events: DataFrame) -> DataFrame:
    """Streaming twin of `events_cep_error_burst`: the run-length state
    the batch gaps-and-islands encode positionally, carried explicitly as
    (current_type, run_length) per key — the Flink-CEP NFA state for
    PATTERN (E{3,} R?). A burst is counted when its run ENDS: a following
    non-error closes it as recovered; end-of-data closes it unrecovered
    (the emission adds the open burst without committing it to state).

    Ordering contract: event-time order per key. The static fixture
    arrives as one micro-batch, sorted inside the kernel by
    (ts, event_id); a multi-batch deployment needs watermark-buffered
    reordering upstream (what a production CEP engine's event-time mode
    does) — batch boundaries are not order boundaries."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        cur, run, bursts, longest, rec, seen = (
            state.get if state.exists else (None, 0, 0, 0, 0, 0)
        )
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            all_rows = pd.concat(frames, ignore_index=True)
            t = all_rows["ts_us"].values.astype("int64")
            order = np.lexsort((all_rows["event_id"].values.astype("int64"), t))
            for et in all_rows["event_type"].values[order]:
                seen += 1
                if et == cur:
                    run += 1
                    continue
                if cur == "error" and run >= 3:
                    bursts += 1
                    rec += 1  # closed by this (non-error) event
                    longest = max(longest, run)
                cur, run = str(et), 1
        state.update((cur, run, bursts, longest, rec, seen))
        open_burst = 1 if (cur == "error" and run >= 3) else 0
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [seen],
                "n_bursts": [bursts + open_burst],
                "longest_burst": [
                    max(longest, run) if open_burst else longest
                ],
                "n_recovered": [rec],
            }
        )

    return _with_ts_us(events).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_CEP_OUT_SCHEMA,
        stateStructType=_CEP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "streaming_cep_error_burst",
    oracle=behavior._CEP_BURST_ORACLE,
    tags=("streaming", "cep"),
)
def streaming_cep_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: stream events through `cep_burst_state`,
    keep each key's final emission (n_seen strictly increases), drop
    burst-free users, and render identically to the batch pattern match —
    the oracle IS the batch gaps-and-islands SQL, pinning the NFA-state
    streaming form to the positional batch form."""
    spark = session_with(spark, _STREAM_CONF)
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(cep_burst_state(stream), "mhs_stream_cep_bursts", "update")
    out = spark.table("mhs_stream_cep_bursts")
    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("n_bursts") > 0))
        .select("user_id", "n_bursts", "longest_burst", "n_recovered")
        .orderBy("user_id")
    )


# ------------------------------------------------ sliding-window top-k

_SLIDING_TOPK_ORACLE = """
WITH ws AS (
  SELECT CAST(ts AS TIMESTAMP) AS tsu, event_type FROM events
),
expanded AS (
  -- a 2h window sliding by 1h puts every event in exactly two windows:
  -- the one starting at its hour and the one starting an hour earlier
  SELECT w.s AS wstart, event_type
  FROM ws, LATERAL (
    SELECT unnest([date_trunc('hour', tsu),
                   date_trunc('hour', tsu) - INTERVAL 1 HOUR]) AS s
  ) w
),
counts AS (
  SELECT wstart, event_type, count(*) AS n
  FROM expanded GROUP BY 1, 2
),
ranked AS (
  SELECT wstart, event_type, n,
         row_number() OVER (PARTITION BY wstart
                            ORDER BY n DESC, event_type) AS rk
  FROM counts
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       rk, event_type, n
FROM ranked
WHERE rk <= 3
ORDER BY window_start, rk
"""


@register(
    "streaming_sliding_topk",
    oracle=_SLIDING_TOPK_ORACLE,
    tags=("streaming", "event-time"),
)
def streaming_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window leaderboard on the STREAM: 2-hour windows advancing
    hourly count events per type (`window(ts, '2 hours', '1 hour')` —
    each event belongs to exactly two open windows, maintained
    incrementally in the state store); after the fixture drains, the
    top-3 types per window are ranked batch-side over the final counts —
    the trending-now panel every event product ships.

    The rank itself stays OUTSIDE the stream on purpose: a per-window
    top-k over a streaming aggregate would need complete-mode re-emission
    of every window on every batch; ranking the final (window, type)
    counts — window-cardinality data — at read time is the production
    pattern (aggregate continuously, rank at serving). The oracle expands
    each event into its two windows arithmetically and replays the same
    dense_rank-free row_number with the type tiebreak."""
    spark = session_with(spark, _STREAM_CONF)
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            utc_text("w.start").alias("window_start"),
            "event_type",
            "n",
        )
    )
    run_to_memory(agg, "mhs_stream_sliding_topk", "complete")
    out = spark.table("mhs_stream_sliding_topk")
    w = Window.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    return (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("window_start", "rk", "event_type", "n")
        .orderBy("window_start", "rk")
    )
