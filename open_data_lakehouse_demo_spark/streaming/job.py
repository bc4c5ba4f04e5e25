"""Streaming job: Kafka-envelope parse → alert branch + stateful bus state.

Re-expresses the reference streaming job (assets/code/pyspark-job.py) on
idiomatic Structured Streaming, runnable fully offline:

  reference (file:line)                      here
  ---------------------------------------   ------------------------------
  envelope StructType  pyspark-job.py:92-118 ENVELOPE_SCHEMA
  kafka readStream     pyspark-job.py:121-131 read_json_stream (file source
                                             for offline; swap format("kafka")
                                             in production — same downstream)
  from_json parse      pyspark-job.py:135-139 parse_envelope (F19)
  alert branch         pyspark-job.py:142-168 alerts_stream (T2: filter →
                                             to_json(struct) → append sink, F20)
  watermark            pyspark-job.py:171-174 T1 (bounds state GC; the agg
                                             keeps only latest row per key)
  stateful bus state   pyspark-job.py:34-54,  latest_state_agg (T3 as
                       185-206                complete-mode max_by agg) and
                                             latest_state_stateful (T3 as
                                             applyInPandasWithState — the
                                             arbitrary-stateful scale path)
  foreachBatch sink    pyspark-job.py:56-69,  run_pipeline's overwrite sink
                       210-215                (T4) — parquet table stand-in
  dual queries         pyspark-job.py:157-168,run_pipeline returns both (T5)
                       210-218

Determinism fix over the reference (SURVEY §7 risk register): the
reference's update_state UDF folds collect_list in nondeterministic order;
here "latest" is defined by (timestamp_at_stop, bus_ride_id) max — total
order, same result under any shuffle schedule.

Scale notes: the state key space is |bus_lines| (tiny) but the design holds
for high-cardinality keys — max_by partial-aggregates map-side, and the
stateful variant keeps O(1) state per key in the state store (RocksDB
provider at scale); the alert branch is stateless and never shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Ride payload (the reference's 18-field data struct trimmed to the fields
# its job actually reads — pyspark-job.py:135-152, 177-204).
BUS_DATA_SCHEMA = StructType(
    [
        StructField("bus_ride_id", StringType()),
        StructField("bus_line_id", LongType()),
        StructField("bus_line", StringType()),
        StructField("bus_stop_id", LongType()),
        StructField("bus_stop_index", IntegerType()),
        StructField("timestamp_at_stop", TimestampType()),
        StructField("passengers_in_stop", LongType()),
        StructField("passengers_boarding", LongType()),
        StructField("remaining_at_stop", LongType()),
        StructField("total_passengers", LongType()),
        StructField("total_capacity", LongType()),
        StructField("last_stop", BooleanType()),
    ]
)

ENVELOPE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("data", BUS_DATA_SCHEMA),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("bus_line_id", LongType()),
        StructField("bus_line", StringType()),
        StructField("remaining_at_stop", LongType()),
        StructField("total_passengers", LongType()),
        StructField("total_capacity", LongType()),
        StructField("update_timestamp", TimestampType()),
    ]
)


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    sasl_username: str | None = None,
    sasl_password: str | None = None,
) -> DataFrame:
    """S9: production Kafka reader (ref pyspark-job.py:121-131, incl. the
    SASL_SSL/PLAIN option set). Emits the same ``raw_value`` column as
    read_json_stream, so the downstream pipeline is byte-identical between
    production and offline tests. Requires spark-sql-kafka on the classpath.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if sasl_username is not None:
        reader = (
            reader.option("kafka.security.protocol", "SASL_SSL")
            .option("kafka.sasl.mechanism", "PLAIN")
            .option(
                "kafka.sasl.jaas.config",
                "org.apache.kafka.common.security.plain.PlainLoginModule required "
                f'username="{sasl_username}" password="{sasl_password}";',
            )
        )
    return reader.load().select(F.col("value").cast("string").alias("raw_value"))


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
):
    """S10: production Kafka writer (ref pyspark-job.py:157-168): append a
    single ``value`` column stream to a topic. Returns the started query."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def read_json_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stand-in for the Kafka reader: JSONL files of raw
    envelope text in a `value` column (exactly what kafka delivers)."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 8)
        .load(source_dir)
        .withColumnRenamed("value", "raw_value")
    )


def parse_envelope(raw: DataFrame, observed: bool = False) -> DataFrame:
    """from_json parse (F19) + flatten; drops rows that fail to parse.

    ``observed=True`` attaches plan-inline data-quality counters
    (``DataFrame.observe``): total input rows and malformed-envelope
    count, measured BEFORE the drop filter. The counters are
    accumulator-style aggregates evaluated during the existing pass —
    zero extra scans — and surface per micro-batch in
    ``StreamingQueryProgress.observedMetrics["envelope_quality"]`` (the
    production dead-letter/poison-message dashboard signal; the
    reference has no equivalent — its parse failures vanish silently)."""
    parsed0 = raw.select(
        F.from_json(F.col("raw_value").cast("string"), ENVELOPE_SCHEMA).alias("msg")
    )
    if observed:
        parsed0 = parsed0.observe(
            "envelope_quality",
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.when(
                    F.col("msg").isNull() | F.col("msg.data.bus_ride_id").isNull(), 1
                ).otherwise(0)
            ).alias("malformed"),
        )
    return parsed0.filter(
        F.col("msg").isNotNull() & F.col("msg.data.bus_ride_id").isNotNull()
    ).select("msg.id", "msg.timestamp", "msg.data.*")


def alerts_stream(parsed: DataFrame, min_remaining: int = 1) -> DataFrame:
    """Capacity-alert branch (T2): passengers left behind at a stop.

    Stateless filter → to_json(struct) (F20) — the exact payload the
    reference publishes to the capacity-alerts topic (pyspark-job.py:146-152).
    """
    return parsed.filter(F.col("remaining_at_stop") >= min_remaining).select(
        F.to_json(
            F.struct(
                "bus_ride_id",
                "bus_line",
                "bus_stop_id",
                "remaining_at_stop",
                "timestamp_at_stop",
            )
        ).alias("value")
    )


def latest_state_agg(parsed: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T3 via complete-mode aggregation: latest non-final update per line.

    max_by over a totally-ordered (timestamp, ride_id) key replaces the
    reference's order-sensitive fold; a line whose latest update has
    last_stop=true is dropped (ride finished ⇒ remove key), matching
    update_state returning None (pyspark-job.py:44-53).
    """
    ordered_key = F.struct(
        F.col("timestamp_at_stop").alias("ts"), F.col("bus_ride_id").alias("rid")
    )
    latest = (
        parsed.withWatermark("timestamp_at_stop", watermark)
        .groupBy("bus_line_id")
        .agg(
            F.max_by(
                F.struct(
                    "bus_line",
                    "remaining_at_stop",
                    "total_passengers",
                    "total_capacity",
                    F.col("timestamp_at_stop").alias("update_timestamp"),
                    "last_stop",
                ),
                ordered_key,
            ).alias("s")
        )
    )
    return latest.filter(~F.col("s.last_stop")).select(
        "bus_line_id",
        "s.bus_line",
        "s.remaining_at_stop",
        "s.total_passengers",
        "s.total_capacity",
        "s.update_timestamp",
    )


def _update_state_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key fold for applyInPandasWithState: keep the latest update by
    (timestamp_at_stop, bus_ride_id); remove the key when the latest update
    is a last stop (U3 — ref pyspark-job.py:34-54, order made total)."""
    if state.exists:
        (line, remaining, total, cap, ts, rid, last) = state.get
        best = (pd.Timestamp(ts), rid, line, remaining, total, cap, last)
    else:
        best = None
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            cand = (
                pd.Timestamp(row.timestamp_at_stop),
                row.bus_ride_id,
                row.bus_line,
                int(row.remaining_at_stop),
                int(row.total_passengers),
                int(row.total_capacity),
                bool(row.last_stop),
            )
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
    ts, rid, line, remaining, total, cap, last = best
    if last:
        if state.exists:
            state.remove()
        yield pd.DataFrame(
            columns=[f.name for f in STATE_SCHEMA.fields]
        ).astype(object)
        return
    state.update((line, remaining, total, cap, ts.to_pydatetime(), rid, last))
    yield pd.DataFrame(
        [
            {
                "bus_line_id": key[0],
                "bus_line": line,
                "remaining_at_stop": remaining,
                "total_passengers": total,
                "total_capacity": cap,
                "update_timestamp": ts,
            }
        ]
    )


_STATE_STORE_SCHEMA = (
    "bus_line STRING, remaining_at_stop BIGINT, total_passengers BIGINT, "
    "total_capacity BIGINT, update_timestamp TIMESTAMP, bus_ride_id STRING, "
    "last_stop BOOLEAN"
)


def latest_state_stateful(parsed: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T3 via arbitrary stateful processing (applyInPandasWithState).

    Same observable semantics as latest_state_agg but with explicit per-key
    state — the shape that generalizes to session logic and custom TTLs;
    state lives in the executor state store (RocksDB provider at scale).
    """
    return (
        parsed.withWatermark("timestamp_at_stop", watermark)
        .groupBy("bus_line_id")
        .applyInPandasWithState(
            _update_state_fn,
            outputStructType=STATE_SCHEMA,
            stateStructType=_STATE_STORE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_boardings(
    parsed: DataFrame,
    window_duration: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Beyond-reference streaming op: tumbling/sliding event-time window
    aggregation (SURVEY §2.8 notes the reference has none; a lakehouse
    engine needs them). Watermarked ⇒ append-mode emits each window once
    it's final; state is bounded by watermark horizon × key cardinality.
    """
    windowed = (
        parsed.withWatermark("timestamp_at_stop", watermark)
        .groupBy(
            F.window("timestamp_at_stop", window_duration, slide or window_duration),
            "bus_line_id",
        )
        .agg(
            F.sum("passengers_boarding").alias("boardings"),
            F.sum("remaining_at_stop").alias("left_behind"),
            F.count("*").alias("n_updates"),
        )
    )
    return windowed.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "bus_line_id",
        "boardings",
        "left_behind",
        "n_updates",
    )


def deduped_updates(parsed: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Beyond-reference streaming op: exactly-once update dedup by
    (ride, stop) within the watermark horizon — the standard guard against
    at-least-once sources (Kafka producer retries duplicate envelopes)."""
    return parsed.withWatermark("timestamp_at_stop", watermark).dropDuplicates(
        ["bus_ride_id", "bus_stop_index"]
    )


def enriched_alerts(
    parsed: DataFrame,
    lines_dim: DataFrame,
    min_remaining: int = 1,
) -> DataFrame:
    """Beyond-reference streaming op: stream-static join — alerts enriched
    with the bus-lines dimension (frequency, stop count). The static side
    is re-read per micro-batch by Structured Streaming, so dimension
    updates are picked up without restarting; small dims broadcast."""
    alerts = parsed.filter(F.col("remaining_at_stop") >= min_remaining)
    dim = F.broadcast(
        lines_dim.select("bus_line_id", "frequency_minutes", F.size("stops").alias("n_stops"))
    )
    return alerts.join(dim, "bus_line_id", "left").select(
        "bus_ride_id",
        "bus_line",
        "bus_stop_id",
        "remaining_at_stop",
        "timestamp_at_stop",
        "frequency_minutes",
        "n_stops",
    )


def session_boardings(
    parsed: DataFrame,
    gap: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Beyond-reference streaming op: event-time SESSION windows per line —
    a service burst ends after ``gap`` of silence. ``session_window`` merges
    windows as events arrive; watermark finalizes a session once no event
    can extend it, so append mode emits each session exactly once. State is
    one open session per active key — O(active lines), not O(events)."""
    sessions = (
        parsed.withWatermark("timestamp_at_stop", watermark)
        .groupBy(F.session_window("timestamp_at_stop", gap), "bus_line_id")
        .agg(
            F.sum("passengers_boarding").alias("boardings"),
            F.count("*").alias("n_updates"),
        )
    )
    return sessions.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "bus_line_id",
        "boardings",
        "n_updates",
    )


def upsert_state_sink(
    parsed: DataFrame,
    spark: SparkSession,
    state_table: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """Beyond-reference sink: per-micro-batch MERGE upsert of bus state.

    The reference overwrites the WHOLE warehouse table every micro-batch
    (pyspark-job.py:56-69) — O(total keys) written per batch. This sink
    merges only the keys present in the batch (plans/ddl.py merge_into:
    native MERGE on Iceberg, copy-on-write swap on parquet) — O(batch
    keys) amortized, the CDC-upsert shape every lakehouse streaming
    pipeline needs. Update mode + watermark keeps per-batch output to
    changed keys only. Returns the started query.
    """
    from open_data_lakehouse_demo_spark.plans import ddl

    state = latest_state_stateful(parsed, watermark)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # last_stop removals surface as empty-payload rows upstream; rows
        # present here are live states — merge on the line key.
        if batch_df.isEmpty():
            return
        ddl.merge_into(
            batch_df.sparkSession,
            state_table,
            batch_df,
            on=["bus_line_id"],
        )
        # the parquet fallback swaps the table out from under other
        # sessions' relation caches; keep the owning session current
        # (no-op for Iceberg, whose snapshots are read consistently)
        spark.catalog.refreshTable(state_table)

    return (
        state.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def relief_join(
    parsed: DataFrame,
    watermark: str = "10 minutes",
    max_wait: str = "30 minutes",
    left_outer: bool = False,
) -> DataFrame:
    """Beyond-reference streaming op: stream-stream interval join.

    "Time to relief": passengers left behind at a stop (remaining_at_stop>0)
    joined with EVERY other-ride pickup at the same stop within ``max_wait``
    (one row per qualifying pickup; take min(wait_seconds) per alert
    downstream for first-relief semantics — a streaming join cannot emit
    "the minimum" before the window closes). Both sides carry watermarks and the join predicate bounds
    pickup_ts to (alert_ts, alert_ts + max_wait], so Spark can expire join
    state — without the time bound, stream-stream state grows forever.

    ``left_outer=True`` additionally emits unrelieved alerts (null pickup
    columns) once the watermark passes alert_ts + max_wait — the SLA-breach
    detector shape. State per side is O(events within watermark horizon),
    partitioned by stop id, so the join scales with stop cardinality, not
    stream length.

    The reference has no stream-stream joins (SURVEY §2.8 notes the absence);
    this is the canonical Structured Streaming pattern a lakehouse engine
    must expose.
    """
    alerts = (
        parsed.filter(F.col("remaining_at_stop") > 0)
        .select(
            F.col("bus_stop_id").alias("alert_stop_id"),
            F.col("bus_ride_id").alias("alert_ride_id"),
            F.col("bus_line_id").alias("alert_line_id"),
            F.col("remaining_at_stop").alias("passengers_waiting"),
            F.col("timestamp_at_stop").alias("alert_ts"),
        )
        .withWatermark("alert_ts", watermark)
    )
    pickups = (
        parsed.filter(F.col("passengers_boarding") > 0)
        .select(
            F.col("bus_stop_id").alias("pickup_stop_id"),
            F.col("bus_ride_id").alias("pickup_ride_id"),
            F.col("passengers_boarding").alias("pickup_boarded"),
            F.col("timestamp_at_stop").alias("pickup_ts"),
        )
        .withWatermark("pickup_ts", watermark)
    )
    cond = (
        (F.col("alert_stop_id") == F.col("pickup_stop_id"))
        & (F.col("pickup_ride_id") != F.col("alert_ride_id"))
        & (F.col("pickup_ts") > F.col("alert_ts"))
        & (F.col("pickup_ts") <= F.col("alert_ts") + F.expr(f"INTERVAL {max_wait}"))
    )
    joined = alerts.join(pickups, cond, "leftOuter" if left_outer else "inner")
    return joined.select(
        "alert_stop_id",
        "alert_ride_id",
        "alert_line_id",
        "passengers_waiting",
        "alert_ts",
        "pickup_ride_id",
        "pickup_boarded",
        "pickup_ts",
        (
            F.col("pickup_ts").cast("long") - F.col("alert_ts").cast("long")
        ).alias("wait_seconds"),
    )


def run_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    alerts_dir: str,
    state_table_dir: str,
    watermark: str = "10 minutes",
    available_now: bool = False,
):
    """Wire the full dual-sink topology (T5) and start both queries.

    alert branch  → append JSON files (kafka sink stand-in, same payload)
    state branch  → complete-mode agg → foreachBatch full overwrite of the
                    bus_state parquet table (T4 — the reference overwrites
                    a warehouse table per micro-batch)
    Returns (alerts_query, state_query); caller awaits/stops them.

    ``available_now=True`` runs both queries with Trigger.AvailableNow:
    drain everything currently in the source in rate-limited micro-batches
    (maxFilesPerTrigger still applies), then stop — the incremental
    batch/backfill pattern (catch-up after downtime, scheduled
    micro-batch jobs) with exactly the same exactly-once checkpoint
    contract as the continuous run; a later continuous start resumes
    from the same checkpoints.
    """
    parsed = parse_envelope(read_json_stream(spark, source_dir), observed=True)

    alerts_w = (
        alerts_stream(parsed)
        .writeStream.format("json")
        .option("path", alerts_dir)
        .option("checkpointLocation", f"{checkpoint_dir}/alerts")
        .outputMode("append")
    )
    if available_now:
        alerts_w = alerts_w.trigger(availableNow=True)
    alerts_q = alerts_w.start()

    state_df = latest_state_agg(parsed, watermark)

    def overwrite_state(batch_df: DataFrame, batch_id: int) -> None:
        # Full-snapshot overwrite per micro-batch (T4). NB: no .collect()
        # debug print here — the reference's pyspark-job.py:63 collect is an
        # anti-pattern dropped on purpose (driver OOM at scale).
        batch_df.write.mode("overwrite").parquet(state_table_dir)

    state_w = (
        state_df.writeStream.foreachBatch(overwrite_state)
        .option("checkpointLocation", f"{checkpoint_dir}/state")
        .outputMode("complete")
    )
    if available_now:
        state_w = state_w.trigger(availableNow=True)
    state_q = state_w.start()
    return alerts_q, state_q
