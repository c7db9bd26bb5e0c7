"""Streaming/incremental queries (SURVEY §2.11 I1-I5).

Each query drives a REAL checkpointed stream over scratch files in
two arrival waves, then returns a batch-queryable result whose oracle
is plain SQL over the same rows — proving exactly-once processing
(double-processing would double counts and hash-mismatch).

Scratch state is wiped at query start so runs are self-contained and
deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from innercircle_etl_spark.operators.atomic_swap import (
    recover_table,
    write_replace,
)
from innercircle_etl_spark.operators.window_dedup import latest_per_key_agg
from innercircle_etl_spark.plans.registry import (
    dsum,
    load,
    register,
    scratch_dir,
)
from innercircle_etl_spark.streaming import (
    run_available_now,
    stream_ndjson_dir,
)

_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

# Split point between the two arrival waves: first half of events by
# id lands before the first poll, the rest before the second.
_WAVE_SQL = "event_id % 2"


def _wave(col) -> F.Column:
    return col % 2


# Event-time arithmetic that survives ANY session the driver supplies.
# The fixture's events.ts reads as TIMESTAMP_NTZ under default confs
# (parquet timestamp[us] with no tz) but as TIMESTAMP under a session
# that pre-dates NTZ inference; unix_micros()/timestamp_micros() only
# speak TIMESTAMP and are session-timezone-dependent. Doing the
# epoch arithmetic with timestamp_diff/timestamp_add in the NTZ domain
# is wall-clock math: type-agnostic and timezone-independent.
_EPOCH_NTZ = "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)"


def _ts_us(col) -> F.Column:
    """Epoch micros of an event-time column (naive wall clock = UTC)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND", F.expr(_EPOCH_NTZ), c.cast("timestamp_ntz")
    )


def _lit_us(ts_str: str) -> F.Column:
    """Epoch micros of a wall-clock literal like '2024-03-01 00:00:00'."""
    return _ts_us(F.lit(ts_str).cast("timestamp_ntz"))


def _us_ts(col) -> F.Column:
    """micros → TIMESTAMP_NTZ, the inverse of _ts_us.

    NOT for the stream's event-time column — withWatermark demands
    TIMESTAMP (LTZ); use ``F.timestamp_micros`` there (an epoch
    instant, also timezone-independent). This is for RESULT columns,
    so collected values are naive-UTC and match the DuckDB oracle
    under any driver session timezone."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_add("MICROSECOND", c, F.expr(_EPOCH_NTZ))


def _ntz(col) -> F.Column:
    """LTZ result column → TIMESTAMP_NTZ rendered as UTC (see _us_ts)."""
    c = F.col(col) if isinstance(col, str) else col
    return _us_ts(F.unix_micros(c))


def _events_slim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )


def _two_wave_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    foreach_batch=None,
) -> tuple[str, str]:
    """Write events as NDJSON in two waves, draining the checkpointed
    stream after each (the daemon's poll loop, two cycles). Returns
    (sink_path, checkpoint) — with foreach_batch, sink is unused."""
    base = scratch_dir(f"stream_{name}", sf_dir, fresh=True)
    src = f"{base}/in"
    sink = f"{base}/out"
    ckpt = f"{base}/ckpt"
    ev = _events_slim(spark, sf_dir)

    for wave in (0, 1):
        ev.filter(_wave(F.col("event_id")) == wave).write.mode(
            "append"
        ).json(src)
        stream = stream_ndjson_dir(spark, src, _EVENT_SCHEMA)
        run_available_now(
            stream,
            ckpt,
            sink_path=sink,
            foreach_batch=foreach_batch,
        )
    return sink, ckpt


_I4_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


@register("i4_file_stream_exactly_once", oracle=_I4_ORACLE)
def i4_file_stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4/S7: the polling JSON daemon as a checkpointed file-source
    stream (load_metadata_json_daemon.py:13-37 → readStream +
    Trigger.AvailableNow). Two arrival waves, two drains, one
    checkpoint: the second drain must skip wave-0 files — any
    reprocessing doubles counts and fails the oracle, which
    aggregates the full events table in one batch pass."""
    sink, _ = _two_wave_stream(spark, sf_dir, "i4")
    out = spark.read.schema(_EVENT_SCHEMA).parquet(sink)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


_I3_ORACLE = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
FROM (
    SELECT user_id, event_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY event_id DESC) AS rnk
    FROM events
) WHERE rnk = 1
"""


@register("i3_streaming_snapshot", oracle=_I3_ORACLE)
def i3_streaming_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: stateful snapshot maintenance (nft_ownership,
    update_etl.py:480-534) as foreachBatch merge: each micro-batch
    window-dedups union(snapshot, delta) to latest-per-key and
    atomically rewrites the snapshot. Restart-safe: the checkpoint
    replays unprocessed files only; the merge is idempotent. Oracle =
    latest event per user over the whole table in one batch pass."""
    base = scratch_dir("stream_i3", sf_dir)
    snap = f"{base}/snapshot"

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cols = ["user_id", "event_id", "event_type"]
        delta = batch_df.select(*cols)
        try:
            current = sp.read.parquet(snap)
        except Exception:
            current = sp.createDataFrame([], delta.schema)
        # max_by aggregate form of the rank-1 window (guide §2.3,
        # round 17): event_id is unique — ties can only be replayed
        # identical rows — so the aggregate keeps exactly the
        # window's rank-1 row while each micro-batch collapses per
        # key on the MAP side instead of shuffling + sorting every
        # snapshot∪delta row.
        merged = latest_per_key_agg(
            current.unionByName(delta), ["user_id"], "event_id"
        )
        # crash-safe swap: the shared rename protocol (the previous
        # rmtree-then-rename had a window where NO live snapshot
        # existed; write_replace always leaves one complete copy)
        write_replace(merged, snap, batch_id)

    _two_wave_stream(spark, sf_dir, "i3", foreach_batch=merge)
    recover_table(snap)
    return spark.read.parquet(snap).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


@register("i3b_stateful_snapshot", oracle=_I3_ORACLE)
def i3b_stateful_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3 true-streaming form: per-key state via
    ``applyInPandasWithState`` instead of i3's foreachBatch
    rewrite-the-snapshot merge. Each user's state is a FIXED-WIDTH
    (last_event_id, last_event_type) record in the checkpoint state
    store, updated per micro-batch and restored across restarts —
    the form that survives unbounded key cardinality: state grows
    with |users| (RocksDB-spillable on a real cluster), not with
    |events|, and no stage ever rewrites the whole snapshot
    (nft_ownership maintenance, update_etl.py:480-534).

    The update stream appends one row per touched key per batch to
    the sink; the batch-side read collapses to the final snapshot
    with a latest-per-key window — values per key are monotone in
    last_event_id, so the max IS the final state. Oracle = the same
    latest-event-per-user over the whole table."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    import pandas as pd

    base = scratch_dir("stream_i3b", sf_dir, fresh=True)
    src, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    ev = _events_slim(spark, sf_dir)

    out_schema = (
        "user_id long, last_event_id long, last_event_type string"
    )
    state_schema = "last_event_id long, last_event_type string"

    def update_fn(key, pdfs, state):
        best_id, best_type = (
            state.get if state.exists else (None, None)
        )
        for pdf in pdfs:
            i = pdf["event_id"].idxmax()
            if best_id is None or pdf["event_id"][i] > best_id:
                best_id = int(pdf["event_id"][i])
                best_type = pdf["event_type"][i]
        state.update((best_id, best_type))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_event_id": [best_id],
                "last_event_type": [best_type],
            }
        )

    for wave in (0, 1):
        ev.filter(_wave(F.col("event_id")) == wave).write.mode(
            "append"
        ).json(src)
        stream = stream_ndjson_dir(spark, src, _EVENT_SCHEMA)
        updates = stream.groupBy("user_id").applyInPandasWithState(
            update_fn,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )

        def emit(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(sink)

        q = (
            updates.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(emit)
            .start()
        )
        q.awaitTermination()
        # expose state-store metrics so tests can assert the state
        # stays bounded by |users| (not |events|)
        i3b_stateful_snapshot.last_progress = [
            p for p in q.recentProgress if p.get("stateOperators")
        ]

    emitted = spark.read.parquet(sink)
    # rank-1 → max_by aggregate (guide §2.3): update-mode re-emits of
    # a key carry strictly newer last_event_id (ties are identical
    # replayed rows), so the aggregate picks the window's rank-1 row
    # with a map-side collapse instead of a full sort per partition.
    return latest_per_key_agg(emitted, ["user_id"], "last_event_id")


_I1_ORACLE = """
WITH target AS (
    SELECT * FROM events WHERE event_id % 2 = 0
),
watermark AS (
    SELECT MAX(event_id) AS hw FROM target
),
increment AS (
    SELECT e.* FROM events e, watermark w WHERE e.event_id > w.hw
)
SELECT CAST((SELECT COUNT(*) FROM target) AS BIGINT) AS n_loaded,
       CAST((SELECT COUNT(*) FROM increment) AS BIGINT) AS n_new,
       (SELECT MAX(event_id) FROM increment) AS new_hw
"""


@register("i1_highwatermark_increment", oracle=_I1_ORACLE)
def i1_highwatermark_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1: high-watermark incremental extract (update_etl.py:413,435,
    499; get_terminal_ts etl_utls.py:328-338): watermark = max(key)
    of the loaded target, pull only source rows beyond it. The
    watermark is a 1-row aggregate crossJoined into the source filter
    — no driver round-trip, stays one DAG."""
    ev = load(spark, sf_dir, "events")
    target = ev.filter(_wave(F.col("event_id")) == 0)
    hw = target.agg(F.max("event_id").alias("hw"))
    inc = ev.crossJoin(F.broadcast(hw)).filter(F.col("event_id") > F.col("hw"))
    return (
        target.agg(F.count(F.lit(1)).alias("n_loaded"))
        .crossJoin(inc.agg(F.count(F.lit(1)).alias("n_new")))
        .crossJoin(inc.agg(F.max("event_id").alias("new_hw")))
    )


_I5_ORACLE = """
WITH versions AS (
    SELECT user_id, event_id AS version_id, event_type AS segment
    FROM events WHERE event_id % 5 < 4          -- prior runs
    UNION ALL
    SELECT user_id, event_id, event_type
    FROM events WHERE event_id % 5 = 4          -- this run's insert
)
SELECT user_id, version_id, segment,
       (version_id = MAX(version_id) OVER (PARTITION BY user_id))
         AS is_current
FROM versions
"""


@register("i5_scd_flag_flip", oracle=_I5_ORACLE)
def i5_scd_flag_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: SCD-2-lite flag flip (insider_to_circle_mapping,
    update_etl.py:906-920, schema.sql:450-460): append the new
    version rows, then recompute is_current as 'is this the latest
    version for the key' — one window max, no UPDATE statement."""
    ev = load(spark, sf_dir, "events")
    history = ev.filter(F.col("event_id") % 5 < 4).select(
        "user_id",
        F.col("event_id").alias("version_id"),
        F.col("event_type").alias("segment"),
    )
    fresh = ev.filter(F.col("event_id") % 5 == 4).select(
        "user_id",
        F.col("event_id").alias("version_id"),
        F.col("event_type").alias("segment"),
    )
    versions = history.unionByName(fresh)
    w = Window.partitionBy("user_id")
    return versions.withColumn(
        "is_current", F.col("version_id") == F.max("version_id").over(w)
    )


_I6_ORACLE = """
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM events
GROUP BY 1, 2
"""

_TS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts_us", T.LongType()),
    ]
)

# wave boundary and the planted rows, all fixed literals (no wall
# clock, no data-dependent driver compute)
_I6_PIVOT = "2024-01-21 00:00:00"
_I6_LATE = ("2024-01-02 00:30:00", "late")
_I6_SENTINELS = ("2024-02-10 00:00:00", "2024-02-20 00:00:00")


@register("i6_watermark_window", oracle=_I6_ORACLE)
def i6_watermark_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation with a 1-hour watermark
    — the Structured Streaming extension beyond the reference's
    batch-incremental surface (SURVEY §2.11 notes the reference has
    no event-time semantics; a 100TB training-data pipeline does).

    Four arrival waves against one checkpoint:
      1. events before the pivot date;
      2. events after it, PLUS one planted 19-days-late row — by
         then the watermark has passed it, so the stream must DROP
         it (if it survived, its window's count would disagree with
         the oracle, which aggregates only the real events);
      3./4. two far-future sentinel rows whose only job is to push
         the watermark past the last real window so append mode
         finalizes everything real. The sentinels' own windows never
         close, so they never reach the sink.

    State scales with open windows × event types (bounded by the
    watermark), not with stream length — the property that makes
    this run forever at 100TB/day.
    """
    base = scratch_dir("stream_i6", sf_dir, fresh=True)
    src, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        _ts_us("ts").alias("ts_us"),
    )
    pivot_us = _lit_us(_I6_PIVOT)
    late = spark.createDataFrame(
        [(-1, _I6_LATE[1], 1.0)], "event_id long, event_type string, value double"
    ).select(
        "event_id",
        "event_type",
        "value",
        _lit_us(_I6_LATE[0]).alias("ts_us"),
    )
    waves = [
        ev.filter(pivot_us > F.col("ts_us")),
        ev.filter(pivot_us <= F.col("ts_us")).unionByName(late),
    ]
    for i, s_ts in enumerate(_I6_SENTINELS):
        waves.append(
            spark.createDataFrame(
                [(-10 - i, "sentinel", 0.0)],
                "event_id long, event_type string, value double",
            ).select(
                "event_id",
                "event_type",
                "value",
                _lit_us(s_ts).alias("ts_us"),
            )
        )

    for wave in waves:
        wave.write.mode("append").json(src)
        stream = stream_ndjson_dir(spark, src, _TS_SCHEMA)
        agg = (
            stream.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(38,6)"))
                .cast("double")
                .alias("total"),
            )
            .select(
                _ntz(F.col("w.start")).alias("window_start"),
                "event_type",
                "n_events",
                "total",
            )
        )
        run_available_now(agg, ckpt, sink_path=sink)

    # The sentinels are watermark-advancing scaffolding, not data;
    # Spark's no-data micro-batches may finalize the earlier
    # sentinel's window once the later one raises the watermark.
    return spark.read.parquet(sink).filter(
        F.col("event_type") != "sentinel"
    )


_I7_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM events
GROUP BY event_type
"""


@register("i7_stream_dedup", oracle=_I7_ORACLE)
def i7_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup under at-least-once delivery:
    `dropDuplicatesWithinWatermark` on the event id with a 1-hour
    event-time watermark. Wave 1 delivers every event; wave 2
    re-delivers a third of them (the retry storm every file/queue
    source eventually produces). Each re-delivery is either still in
    dedup state (within the watermark) or older than the watermark —
    dropped either way, so the sink holds each event exactly once
    and the plain batch aggregate over the events table is the
    oracle.

    The watermark is what makes this run forever: dedup state is
    bounded by the delivery-delay window, not by stream length —
    the streaming member of the dedup family (cf. dedup_exact)."""
    base = scratch_dir("stream_i7", sf_dir, fresh=True)
    src, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        _ts_us("ts").alias("ts_us"),
    )
    waves = [ev, ev.filter(F.col("event_id") % 3 == 0)]
    for wave in waves:
        wave.write.mode("append").json(src)
        stream = stream_ndjson_dir(spark, src, _TS_SCHEMA)
        deduped = (
            stream.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "event_type", "value")
        )
        run_available_now(deduped, ckpt, sink_path=sink)

    out = spark.read.parquet(sink)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("total"),
    )


_I8_ORACLE = """
WITH t AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
m AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
    SELECT user_id, ts, value,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM m
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid
"""


@register("i8_session_window", oracle=_I8_ORACLE)
def i8_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8 (beyond-parity): per-user session windows with a 30-minute
    inactivity gap — ``F.session_window``, the native sessionization
    operator. Session end = last event + gap, and an event landing
    EXACTLY at the previous session's end starts a new session
    (Spark's end bound is exclusive); the oracle mirrors that with
    the gaps-and-islands idiom (lag >= gap starts an island).

    The identical expression runs under readStream with
    ``withWatermark('ts', ...)`` for the streaming form — state per
    (user, open session), closed sessions emitted once the watermark
    passes their end. Batch mode here keeps the oracle exact."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    sess = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )
    return sess.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "total_value",
    )


def _twsip_available() -> bool:
    """transformWithStateInPandas drives its StatefulProcessor over a
    protobuf channel; this container ships a protobuf install whose
    ``descriptor`` module is broken, so the query registers only
    where the dependency actually works (same honest-gate pattern as
    the multimodal codec registry)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def i3c_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3 on the Spark-4 state API: ``transformWithStateInPandas``
    with a typed StatefulProcessor and a named ValueState — the
    successor to i3b's applyInPandasWithState (same per-key
    fixed-width state contract, plus composable named state, timers
    and TTL when needed). Requires the RocksDB state-store provider,
    which is also the spill-to-disk story for unbounded key
    cardinality on a real cluster. Oracle = the same
    latest-event-per-user over the whole table."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    base = scratch_dir("stream_i3c", sf_dir, fresh=True)
    src, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    ev = _events_slim(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("last_event_id", T.LongType()),
            T.StructField("last_event_type", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_event_id", T.LongType()),
            T.StructField("last_event_type", T.StringType()),
        ]
    )

    class LatestEvent(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.latest = handle.getValueState("latest", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            best_id, best_type = (
                self.latest.get() if self.latest.exists() else (None, None)
            )
            for pdf in rows:
                i = pdf["event_id"].idxmax()
                if best_id is None or pdf["event_id"][i] > best_id:
                    best_id = int(pdf["event_id"][i])
                    best_type = pdf["event_type"][i]
            self.latest.update((best_id, best_type))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "last_event_id": [best_id],
                    "last_event_type": [best_type],
                }
            )

        def close(self) -> None:
            pass

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        for wave in (0, 1):
            ev.filter(_wave(F.col("event_id")) == wave).write.mode(
                "append"
            ).json(src)
            stream = stream_ndjson_dir(spark, src, _EVENT_SCHEMA)
            updates = stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=LatestEvent(),
                outputStructType=out_schema,
                outputMode="Update",
                timeMode="None",
            )

            def emit(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.write.mode("append").parquet(sink)

            (
                updates.writeStream.outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .foreachBatch(emit)
                .start()
                .awaitTermination()
            )
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )

    emitted = spark.read.parquet(sink)
    # same rank-1 → max_by aggregate as i3b (guide §2.3)
    return latest_per_key_agg(emitted, ["user_id"], "last_event_id")


if _twsip_available():  # pragma: no cover - protobuf broken here
    register("i3c_transform_with_state", oracle=_I3_ORACLE)(
        i3c_transform_with_state
    )


_I9_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("i9_stream_static_join", oracle=_I9_ORACLE)
def i9_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I9 (beyond-parity): stream-static enrichment join — the
    streaming form of every fact⋈dim lookup (the reference's
    address/contract enrichments applied to a live feed). The static
    side is re-read per micro-batch (so a slowly-changing dim picks
    up updates between batches) and broadcast — the stream side
    never shuffles for the join. Two waves through one checkpoint
    prove exactly-once; the oracle is the plain batch join."""
    base = scratch_dir("stream_i9", sf_dir, fresh=True)
    src, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    ev = _events_slim(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    for wave in (0, 1):
        ev.filter(_wave(F.col("event_id")) == wave).write.mode(
            "append"
        ).json(src)
        stream = stream_ndjson_dir(spark, src, _EVENT_SCHEMA)
        enriched = stream.join(F.broadcast(cust), "user_id")
        (
            enriched.writeStream.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", sink)
            .start()
            .awaitTermination()
        )

    out = spark.read.parquet(sink)
    return out.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


_I10_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
    ]
)

_I10_ORACLE = """
SELECT a.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
 AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
 AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP)
     + INTERVAL 30 MINUTE
GROUP BY a.user_id
"""


@register("i10_stream_stream_join", oracle=_I10_ORACLE)
def i10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I10 (beyond-parity): stream-stream interval join — even-id
    events ("buys") joined to odd-id events ("sells") for the same
    user within 30 minutes, both sides watermarked 1 hour so the
    buffered join state stays bounded.

    Arrival waves split by EVENT TIME (the i6 pivot), not by id:
    watermarks persist in the checkpoint across drains, so a
    time-ordered replay never drops wave-2 rows as late, while
    wave-1 rows inside the watermark window are still buffered to
    match across the boundary. Inner stream-stream joins emit on
    match — two drains through one checkpoint emit each pair exactly
    once. Oracle = the plain batch interval self-join."""
    base = scratch_dir("stream_i10", sf_dir, fresh=True)
    src, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", _ts_us("ts").alias("ts_us")
    )
    pivot_us = _lit_us(_I6_PIVOT)

    for wave_df in (
        ev.filter(F.col("ts_us") < pivot_us),
        ev.filter(F.col("ts_us") >= pivot_us),
    ):
        wave_df.write.mode("append").json(src)
        stream = (
            stream_ndjson_dir(spark, src, _I10_SCHEMA)
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .drop("ts_us")
        )
        buys = (
            stream.filter(F.col("event_id") % 2 == 0)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("b_user"),
                F.col("ts").alias("b_ts"),
            )
        )
        sells = (
            stream.filter(F.col("event_id") % 2 == 1)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("s_user"),
                F.col("ts").alias("s_ts"),
            )
        )
        joined = buys.join(
            sells,
            (F.col("b_user") == F.col("s_user"))
            & (F.col("s_ts") >= F.col("b_ts"))
            & (F.col("s_ts") <= F.col("b_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).select(F.col("b_user").alias("user_id"))
        (
            joined.writeStream.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", sink)
            .start()
            .awaitTermination()
        )

    out = spark.read.parquet(sink)
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


_I11_ORACLE = """
WITH buys AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS b_ts FROM events
    WHERE event_id % 2 = 0
),
sells AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS s_ts FROM events
    WHERE event_id % 2 = 1
),
joined AS (
    SELECT b.user_id, s.s_ts
    FROM buys b
    LEFT JOIN sells s
      ON b.user_id = s.user_id
     AND s.s_ts >= b.b_ts
     AND s.s_ts <= b.b_ts + INTERVAL 30 MINUTE
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN s_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched
FROM joined GROUP BY user_id
"""

_I11_SENTINELS = ("2024-06-01 00:00:00", "2024-07-01 00:00:00")


@register("i11_stream_outer_join", oracle=_I11_ORACLE)
def i11_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I11 (beyond-parity): LEFT OUTER stream-stream join — the hard
    streaming shape: matched pairs emit eagerly, but an unmatched
    buy can only emit its null-padded row once the watermark proves
    no sell can still arrive inside its 30-minute window.

    Deterministic flush without wall-clock waiting: the final waves
    carry far-future sentinel rows (the i6 technique) that advance
    the watermark past every real window, and one extra drain gives
    the state store the batch it needs to evict + emit the
    unmatched rows. Sentinels (negative user) are filtered from the
    result. Oracle = the plain batch LEFT JOIN with the same
    interval condition."""
    base = scratch_dir("stream_i11", sf_dir, fresh=True)
    src, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", _ts_us("ts").alias("ts_us")
    )
    pivot_us = _lit_us(_I6_PIVOT)

    def sentinel(ts_str: str, parity: int) -> DataFrame:
        return spark.range(1).select(
            F.lit(10_000_000_000 + parity).alias("event_id"),
            F.lit(-1).cast("long").alias("user_id"),
            _lit_us(ts_str).alias("ts_us"),
        )

    waves = [
        ev.filter(F.col("ts_us") < pivot_us),
        # second wave ends with sentinels on BOTH parities so both
        # streams' watermarks jump past every real event
        ev.filter(F.col("ts_us") >= pivot_us)
        .unionByName(sentinel(_I11_SENTINELS[0], 0))
        .unionByName(sentinel(_I11_SENTINELS[0], 1)),
        # third wave: one more pair of (later) sentinels — the batch
        # that lets the advanced watermark actually evict and emit
        sentinel(_I11_SENTINELS[1], 0).unionByName(
            sentinel(_I11_SENTINELS[1], 1)
        ),
    ]
    for wave_df in waves:
        wave_df.write.mode("append").json(src)
        stream = (
            stream_ndjson_dir(spark, src, _I10_SCHEMA)
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .drop("ts_us")
        )
        buys = (
            stream.filter(F.col("event_id") % 2 == 0)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
            )
        )
        sells = (
            stream.filter(F.col("event_id") % 2 == 1)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts")
            )
        )
        joined = buys.join(
            sells,
            (F.col("b_user") == F.col("s_user"))
            & (F.col("s_ts") >= F.col("b_ts"))
            & (F.col("s_ts") <= F.col("b_ts") + F.expr("INTERVAL 30 MINUTES")),
            "leftOuter",
        ).select(
            F.col("b_user").alias("user_id"),
            F.col("s_ts"),
        )
        (
            joined.writeStream.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", sink)
            .start()
            .awaitTermination()
        )

    out = spark.read.parquet(sink).filter(F.col("user_id") >= 0)
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("s_ts").isNull(), 1).otherwise(0)).alias(
            "n_unmatched"
        ),
    )


_I12_ORACLE = """
WITH t AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
m AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
    SELECT user_id, ts, value,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM m
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid
"""

_I12_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts_us", T.LongType()),
    ]
)


@register("i12_stream_session_window", oracle=_I12_ORACLE)
def i12_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I12 (beyond-parity): i8's sessionization as a REAL stream —
    ``session_window`` under a watermark in append mode, so a
    session only emits once the watermark proves no event can still
    extend it. Same wave/sentinel discipline as i11: time-pivoted
    arrivals keep replays inside the watermark, far-future sentinels
    close every real session, and a final drain performs the state
    eviction that emits them. Sentinels (negative user) filtered;
    oracle = the batch gaps-and-islands sessionization — streaming
    and batch answers are IDENTICAL."""
    base = scratch_dir("stream_i12", sf_dir, fresh=True)
    src, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    ev = load(spark, sf_dir, "events").select(
        "user_id", "value", _ts_us("ts").alias("ts_us")
    )
    pivot_us = _lit_us(_I6_PIVOT)

    def sentinel(ts_str: str) -> DataFrame:
        return spark.range(1).select(
            F.lit(-1).cast("long").alias("user_id"),
            F.lit(0.0).alias("value"),
            _lit_us(ts_str).alias("ts_us"),
        )

    waves = [
        ev.filter(F.col("ts_us") < pivot_us),
        ev.filter(F.col("ts_us") >= pivot_us).unionByName(
            sentinel(_I11_SENTINELS[0])
        ),
        sentinel(_I11_SENTINELS[1]),
    ]
    for wave_df in waves:
        wave_df.write.mode("append").json(src)
        stream = (
            stream_ndjson_dir(spark, src, _I12_SCHEMA)
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .drop("ts_us")
            .withWatermark("ts", "1 hour")
        )
        sess = stream.groupBy(
            "user_id", F.session_window("ts", "30 minutes")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        ).select(
            "user_id",
            _ntz(F.col("session_window.start")).alias("session_start"),
            _ntz(F.col("session_window.end")).alias("session_end"),
            "n_events",
            "total_value",
        )
        (
            sess.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", sink)
            .start()
            .awaitTermination()
        )

    return spark.read.parquet(sink).filter(F.col("user_id") >= 0)


# ------------------------------------------------ I13: streaming CDC

_I13_SCHEMA = (
    "k long, ts_us long, event_id long, op string, new_bal double"
)

# final state must equal the batch CDC apply — same oracle
from innercircle_etl_spark.plans.upserts import _U12_ORACLE  # noqa: E402


@register("i13_stream_cdc_apply", oracle=_U12_ORACLE)
def i13_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I13 (beyond-parity): u12's CDC apply as a CHECKPOINTED STREAM
    — the lakehouse continuous-ingestion form. The changelog arrives
    in two micro-batch waves split by event id, which deliberately
    interleaves event TIME across batches: a key's newest change can
    land in wave 0 and an older change for the same key in wave 1.
    Batch u12 never sees this (one global latest-per-key); a stream
    MUST version-guard — so the snapshot stores each key's applied
    (ts, event_id) version and an op only wins if strictly newer,
    with DELETES kept as TOMBSTONES (version + deleted flag) so an
    out-of-order older update cannot resurrect a deleted key. This
    is the Delta/Hudi merge-on-read discipline in miniature.

    foreachBatch: window latest-per-key WITHIN the batch, version-
    guarded full-outer merge against the snapshot, atomic swap.
    Restart-safe: the checkpoint replays unprocessed files only and
    the merge is idempotent (re-applying a batch finds no strictly-
    newer versions). Final state == batch u12 == its DuckDB oracle,
    proving out-of-order cross-batch delivery converges to the same
    table."""
    base = scratch_dir("stream_i13", sf_dir, fresh=True)
    src, ckpt, snap = f"{base}/in", f"{base}/ckpt", f"{base}/snapshot"

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").alias("bal"),
        F.lit(False).alias("deleted"),
        F.lit(-1).cast("long").alias("v_ts"),
        F.lit(-1).cast("long").alias("v_eid"),
    )
    cust.write.mode("overwrite").parquet(snap)

    ev = load(spark, sf_dir, "events")
    changelog = ev.select(
        F.col("user_id").alias("k"),
        _ts_us("ts").alias("ts_us"),
        "event_id",
        F.when(F.col("event_id") % 10 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("value").alias("new_bal"),
    )

    from innercircle_etl_spark.operators.cdc import (
        apply_cdc_batch,
        recover_snapshot,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(snap, batch_df, batch_id)

    for wave in (0, 1):
        changelog.filter(F.col("event_id") % 2 == wave).write.mode(
            "append"
        ).json(src)
        stream = stream_ndjson_dir(spark, src, _I13_SCHEMA)
        run_available_now(stream, ckpt, foreach_batch=apply_batch)

    recover_snapshot(snap)
    final = spark.read.parquet(snap).filter(~F.col("deleted"))
    return final.select(
        F.col("k").alias("c_custkey"),
        F.col("bal").alias("acctbal"),
        (F.col("v_eid") >= 0).alias("touched"),
    )


# ------------- streaming maintenance of the persisted ANN index

# final manifest must equal a full single-pass rebuild — the SAME
# oracle as the batch maintenance form (the i13/u12 pattern applied
# to the index lifecycle)
from innercircle_etl_spark.plans.similarity_queries import (  # noqa: E402
    _DEL_ID_ORACLE,
    _DEL_MOD,
    _DEL_REM,
    _INC_BATCH_MOD,
    _INC_BATCH_REM,
    _INC_UPDATE_ORACLE,
    _CellStore,
    _FlatStore,
    _append,
    _index_manifest,
    _kill,
)


@register("ann_index_stream_update", oracle=_INC_UPDATE_ORACLE)
def ann_index_stream_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_index_incremental_update's CHECKPOINTED-STREAM analog — the
    i-series unified with the index lifecycle the way i13 unified it
    with CDC: day-0's inverted file + codebook are built WITHOUT the
    arriving rows and persisted flat; the arrivals then land as
    parquet files in a watched dir across TWO waves, and a
    Trigger.AvailableNow foreachBatch runs each drained micro-batch
    through the maintenance core's ``_append``. Its insert-if-absent
    merge makes a checkpoint-replayed file re-apply as a no-op —
    exactly-once state from at-least-once delivery, i4's guarantee
    extended to index maintenance
    (test_ann_index_stream_update_replay_is_noop). Fixed codebook ->
    per-row argmax independent of arrival order AND batching —
    stream merge == incremental merge == full rebuild, hash-exactly.

    The arriving rows are the batch form's residue class (vec_id %
    10 == 7, deliberately containing codebook ids), split into waves
    by vec_id % 20 (7 vs 17) so each drain carries a nonempty,
    disjoint slice. The watched dir is the landing zone a 100 TB
    embedding pipeline already has.

    Reference parity: beyond-reference (north-star extension);
    stream harness parity with load_metadata_json_daemon.py:13-37
    (the reference's poll loop, here with checkpointed exactly-once
    instead of its best-effort dedup)."""
    base = scratch_dir("stream_annidx", sf_dir, fresh=True)
    src, ckpt = f"{base}/in", f"{base}/ckpt"
    os.makedirs(src)
    e, store = _FlatStore.open(spark, sf_dir, f"{base}/idx")
    store.build(e.filter(F.col("vec_id") % _INC_BATCH_MOD != _INC_BATCH_REM))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the micro-batch's own session reads the live index
        live = _FlatStore(batch_df.sparkSession, store.table, store.cent)
        _append(live, batch_df, f"b{batch_id}")

    for wave_rem in (7, 17):
        e.filter(F.col("vec_id") % 20 == wave_rem).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(e.schema).parquet(src)
        run_available_now(stream, ckpt, foreach_batch=apply_batch)

    return _index_manifest(store.live(), store.cent)


# ------------- streaming DELETE (kill-list) on the partitioned index


def _stream_delete_apply(
    apath: str, cent: DataFrame, batch_df: DataFrame, tag: object
) -> None:
    """One micro-batch of kill-list maintenance on the cell-partitioned
    index at ``apath``: the maintenance core's kill pipeline, then
    its apply. Deletion is naturally idempotent; when the batch
    kills nothing (a checkpoint-replayed file — the survivors are
    every live row of the touched cells) the apply is skipped, so
    replay is a TRUE no-op: untouched FILES, not just untouched
    content."""
    store = _CellStore(batch_df.sparkSession, apath, cent)
    survivors, dropped, live = _kill(store, batch_df)
    if survivors.count() < live.count():
        store.apply(survivors, dropped, f"sdel{tag}")


@register("ann_index_stream_delete", oracle=_DEL_ID_ORACLE)
def ann_index_stream_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_index_cellpart_delete's CHECKPOINTED-STREAM analog — the
    kill-list as a LANDING ZONE, which is how deletion requests
    actually arrive (a GDPR queue, a poisoned-content feed): kill
    batches land as parquet files in a watched dir across TWO waves
    (vec_id % 200 == 7, then == 107 — union = the batch delete's
    residue class), and a Trigger.AvailableNow foreachBatch drains
    each wave through ``_stream_delete_apply``. A checkpoint-replayed
    file leaves the index files BYTE-identical, a stronger replay
    guarantee than the insert form's content-identity
    (test_ann_index_stream_delete_replay_is_noop). Output: the
    post-drain manifest from the LOADED table; oracle: full rebuild
    from the survivors (fixed codebook ⇒ per-row argmax independent
    of deletion order AND batching — stream delete == batch delete
    == rebuild-from-survivors, hash-exactly). The watched dir is the
    request queue a 100 TB pipeline already has.

    Reference parity: beyond-reference (north-star extension);
    batch twin: plans/similarity_queries.py
    ann_index_cellpart_delete."""
    base = scratch_dir("stream_anndel", sf_dir, fresh=True)
    src, ckpt = f"{base}/in", f"{base}/ckpt"
    os.makedirs(src)
    e, store = _CellStore.open(spark, sf_dir, f"{base}/idx")
    store.build(e)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _stream_delete_apply(store.table, store.cent, batch_df, batch_id)

    for wave_rem in (_DEL_REM, _DEL_REM + _DEL_MOD):
        e.filter(
            F.col("vec_id") % (2 * _DEL_MOD) == wave_rem
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema(e.schema).parquet(src)
        run_available_now(stream, ckpt, foreach_batch=apply_batch)

    return _index_manifest(store.live(), store.cent)
