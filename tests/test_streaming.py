"""Streaming topology tests: file-source → alert + stateful state branches.

Drives real StreamingQuery runs (processAllAvailable between file drops)
per SURVEY §5.4: assert alert stream contents and bus_state snapshots
across micro-batches, including last_stop key removal.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark import streaming as st
from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
from tests.conftest import SF_DIR, utc_naive, utc_str
from tests.oracle_utils import assert_matches_oracle


def _envelope(eid, ts, line_id, ride, remaining, total, last_stop, stop_index=1):
    return json.dumps(
        {
            "id": eid,
            "timestamp": ts,
            "data": {
                "bus_ride_id": ride,
                "bus_line_id": line_id,
                "bus_line": f"line-{line_id}",
                "bus_stop_id": 100 + stop_index,
                "bus_stop_index": stop_index,
                "timestamp_at_stop": ts,
                "passengers_in_stop": remaining + 3,
                "passengers_boarding": 3,
                "remaining_at_stop": remaining,
                "total_passengers": total,
                "total_capacity": 60,
                "last_stop": last_stop,
            },
        }
    )


BATCH_1 = [
    _envelope(1, "2025-01-01 10:00:00", 1, "r1", 5, 30, False),
    _envelope(2, "2025-01-01 10:01:00", 1, "r1", 0, 35, False),   # no alert
    _envelope(3, "2025-01-01 10:00:30", 2, "r2", 2, 20, False),
    "not json at all",                                             # dropped by parse
]
BATCH_2 = [
    _envelope(4, "2025-01-01 10:05:00", 1, "r1", 7, 40, False),
    _envelope(5, "2025-01-01 10:06:00", 2, "r2", 1, 25, True),    # line 2 finishes
]


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "src": str(tmp_path / "src"),
        "ckpt": str(tmp_path / "ckpt"),
        "alerts": str(tmp_path / "alerts"),
        "state": str(tmp_path / "state"),
    }
    os.makedirs(d["src"])
    return d


def _drop(src_dir: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(src_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(src_dir, name))


def _read_alerts(alerts_dir: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(f"{alerts_dir}/part-*")):
        with open(p) as f:
            out += [json.loads(json.loads(line)["value"]) for line in f if line.strip()]
    return out


def test_dual_sink_pipeline_end_to_end(spark, dirs):
    _drop(dirs["src"], "b1.jsonl", BATCH_1)
    alerts_q, state_q = st.run_pipeline(
        spark, dirs["src"], dirs["ckpt"], dirs["alerts"], dirs["state"]
    )
    try:
        alerts_q.processAllAvailable()
        state_q.processAllAvailable()

        alerts = _read_alerts(dirs["alerts"])
        assert {(a["bus_ride_id"], a["remaining_at_stop"]) for a in alerts} == {
            ("r1", 5),
            ("r2", 2),
        }
        state = {
            r["bus_line_id"]: r
            for r in spark.read.parquet(dirs["state"]).collect()
        }
        assert state[1]["remaining_at_stop"] == 0  # latest of batch 1 for line 1
        assert state[2]["total_passengers"] == 20

        # second micro-batch: line 1 updates, line 2 hits last_stop → removed
        _drop(dirs["src"], "b2.jsonl", BATCH_2)
        alerts_q.processAllAvailable()
        state_q.processAllAvailable()

        state2 = {
            r["bus_line_id"]: r
            for r in spark.read.parquet(dirs["state"]).collect()
        }
        assert set(state2) == {1}
        assert state2[1]["remaining_at_stop"] == 7
        alerts2 = _read_alerts(dirs["alerts"])
        assert ("r2", 1) in {(a["bus_ride_id"], a["remaining_at_stop"]) for a in alerts2}
    finally:
        alerts_q.stop()
        state_q.stop()


def test_stateful_variant_matches_agg_semantics(spark, dirs, tmp_path):
    """applyInPandasWithState branch: same final snapshot as the agg view."""
    _drop(dirs["src"], "b1.jsonl", BATCH_1)
    _drop(dirs["src"], "b2.jsonl", BATCH_2)
    parsed = st.parse_envelope(st.read_json_stream(spark, dirs["src"]))
    out_dir = str(tmp_path / "stateful_out")

    def append_updates(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        st.latest_state_stateful(parsed)
        .writeStream.foreachBatch(append_updates)
        .option("checkpointLocation", f"{dirs['ckpt']}/stateful")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append sink logs every update; the latest row per line must match the
    # agg branch's final answer, and line 2 must end in removal (no row
    # after its last_stop batch).
    rows = spark.read.parquet(out_dir).collect()
    latest = {}
    for r in sorted(rows, key=lambda r: r["update_timestamp"]):
        latest[r["bus_line_id"]] = r
    assert latest[1]["remaining_at_stop"] == 7
    assert latest[1]["total_passengers"] == 40
    # both files land in one micro-batch: line 2's latest update is its
    # last_stop, so the key is removed and never emitted
    assert 2 not in latest


def test_replay_producer_roundtrip(spark, tmp_path):
    events = spark.createDataFrame(
        [(i, f"2025-01-01 10:{i:02d}:00", 100 + i, "click", float(10 * i)) for i in range(6)],
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    updates = st.events_as_bus_updates(events, shift_to="2025-06-01 00:00:00")
    out = str(tmp_path / "replay")
    paths = st.replay_to_json_files(updates, out, n_batches=3)
    assert [os.path.basename(p) for p in paths] == [
        "batch_0000.jsonl", "batch_0001.jsonl", "batch_0002.jsonl"
    ]
    lines = []
    for p in paths:
        with open(p) as f:
            lines += [json.loads(line) for line in f if line.strip()]
    assert len(lines) == 6
    # timestamp rebased: max ts lands on shift_to
    assert max(line["timestamp"] for line in lines).startswith("2025-06-01T00:00:00")
    parsed = st.parse_envelope(
        spark.read.text(out).withColumnRenamed("value", "raw_value")
    )
    assert parsed.count() == 6
    assert parsed.filter(F.col("bus_line_id") == (103 % 25)).count() == 1


def test_replay_emission_schedule_rate_contract(spark):
    """T6 pacing: the reference producer emits 1 msg/s
    (kafka_service.py:71-104). Wall-clock-free assertion of the semantic
    contract — consecutive emit_at exactly 1/rate apart, emit order = the
    deterministic (timestamp, id) total order, shifted timestamps monotone
    along the schedule."""
    events = spark.createDataFrame(
        [(i, f"2025-01-01 10:{i:02d}:00", 100 + i, "click", float(10 * i)) for i in range(8)],
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    updates = st.events_as_bus_updates(events, shift_to="2025-06-01 00:00:00")
    sched = st.emission_schedule(updates, start_at="2025-06-02 09:00:00", rate_per_sec=1.0)
    rows = sorted(sched.collect(), key=lambda r: r["emit_at"])
    assert len(rows) == 8
    deltas = {
        (b["emit_at"] - a["emit_at"]).total_seconds() for a, b in zip(rows, rows[1:])
    }
    assert deltas == {1.0}  # exactly 1 msg/s, no wall clock involved
    assert utc_naive(rows[0]["emit_at"]).isoformat().startswith("2025-06-02T09:00:00")
    # emit order is the (timestamp, id) total order; the shifted payload
    # timestamps are monotone along the schedule
    assert [r["id"] for r in rows] == sorted(
        (r["id"] for r in rows),
        key=lambda i: next((r["timestamp"], r["id"]) for r in rows if r["id"] == i),
    )
    ts_seq = [r["timestamp"] for r in rows]
    assert ts_seq == sorted(ts_seq)
    # 2 msg/s halves the spacing
    sched2 = st.emission_schedule(updates, start_at="2025-06-02 09:00:00", rate_per_sec=2.0)
    rows2 = sorted(sched2.collect(), key=lambda r: r["emit_at"])
    deltas2 = {
        (b["emit_at"] - a["emit_at"]).total_seconds() for a, b in zip(rows2, rows2[1:])
    }
    assert deltas2 == {0.5}


def _envelope_at(eid, ts, ride, stop_id, remaining, boarding, line_id=1):
    return json.dumps(
        {
            "id": eid,
            "timestamp": ts,
            "data": {
                "bus_ride_id": ride,
                "bus_line_id": line_id,
                "bus_line": f"line-{line_id}",
                "bus_stop_id": stop_id,
                "bus_stop_index": 1,
                "timestamp_at_stop": ts,
                "passengers_in_stop": remaining + boarding,
                "passengers_boarding": boarding,
                "remaining_at_stop": remaining,
                "total_passengers": 30,
                "total_capacity": 60,
                "last_stop": False,
            },
        }
    )


def test_stream_stream_relief_join_inner(spark, dirs, tmp_path):
    """Inner interval join: alert at a stop matches the next other-ride
    pickup at the same stop within max_wait; out-of-window and same-ride
    candidates are excluded."""
    _drop(
        dirs["src"],
        "b1.jsonl",
        [
            # r1 leaves 5 behind at stop 201 at 10:00
            _envelope_at(1, "2025-01-01 10:00:00", "r1", 201, 5, 3),
            # r2 picks up at stop 201 at 10:04 → relief, wait = 240 s
            _envelope_at(2, "2025-01-01 10:04:00", "r2", 201, 0, 4),
            # r3 picks up at stop 201 at 11:00 → outside 30-minute max_wait
            _envelope_at(3, "2025-01-01 11:00:00", "r3", 201, 0, 2),
            # r4 pickup at a different stop → no match
            _envelope_at(4, "2025-01-01 10:05:00", "r4", 999, 0, 6),
        ],
    )
    parsed = st.parse_envelope(st.read_json_stream(spark, dirs["src"]))
    out = str(tmp_path / "relief")
    q = (
        st.relief_join(parsed)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{dirs['ckpt']}/relief")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # append-mode rows for a watermarked join flush once the watermark
        # advances; drop a late heartbeat to push it forward.
        _drop(
            dirs["src"],
            "b2.jsonl",
            [_envelope_at(9, "2025-01-01 12:00:00", "hb", 998, 1, 1)],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    matches = {(r["alert_ride_id"], r["pickup_ride_id"], r["wait_seconds"]) for r in rows}
    assert matches == {("r1", "r2", 240)}


def test_stream_stream_relief_join_left_outer_emits_unrelieved(spark, dirs, tmp_path):
    """Left-outer variant: an alert with no in-window pickup is emitted with
    null pickup columns once the watermark passes alert_ts + max_wait."""
    _drop(
        dirs["src"],
        "b1.jsonl",
        [
            _envelope_at(1, "2025-01-01 10:00:00", "r1", 301, 7, 3),  # never relieved
            _envelope_at(2, "2025-01-01 10:02:00", "r2", 302, 4, 3),  # relieved by r5
            _envelope_at(3, "2025-01-01 10:06:00", "r5", 302, 0, 5),
        ],
    )
    parsed = st.parse_envelope(st.read_json_stream(spark, dirs["src"]))
    out = str(tmp_path / "relief_outer")
    q = (
        st.relief_join(parsed, left_outer=True)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{dirs['ckpt']}/relief_outer")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark well past 10:30 + 10-minute delay so the
        # unmatched left row is finalized, then once more to flush it.
        _drop(
            dirs["src"],
            "b2.jsonl",
            [_envelope_at(9, "2025-01-01 13:00:00", "hb", 398, 1, 1)],
        )
        q.processAllAvailable()
        _drop(
            dirs["src"],
            "b3.jsonl",
            [_envelope_at(10, "2025-01-01 14:00:00", "hb2", 399, 1, 1)],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    by_alert = {}
    for r in rows:
        by_alert.setdefault(r["alert_ride_id"], []).append(r)
    assert {(r["pickup_ride_id"], r["wait_seconds"]) for r in by_alert["r2"]} == {
        ("r5", 240)
    }
    assert any(r["pickup_ride_id"] is None for r in by_alert["r1"])


def test_session_window_boardings(spark, dirs, tmp_path):
    """Session windows: events ≤15 min apart merge; a >15-min gap starts a
    new session. Sessions finalize (append mode) once the watermark passes."""
    _drop(
        dirs["src"],
        "b1.jsonl",
        [
            # line 1: burst of 3 updates within gaps <15 min → one session
            _envelope_at(1, "2025-01-01 10:00:00", "r1", 401, 0, 3),
            _envelope_at(2, "2025-01-01 10:10:00", "r1", 402, 0, 4),
            _envelope_at(3, "2025-01-01 10:20:00", "r1", 403, 0, 5),
            # line 1 again after a 40-min silence → second session
            _envelope_at(4, "2025-01-01 11:00:00", "r2", 404, 0, 7),
        ],
    )
    parsed = st.parse_envelope(st.read_json_stream(spark, dirs["src"]))
    out = str(tmp_path / "sessions")
    q = (
        st.session_boardings(parsed)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{dirs['ckpt']}/sessions")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _drop(
            dirs["src"],
            "b2.jsonl",
            [_envelope_at(9, "2025-01-01 13:00:00", "hb", 498, 1, 1)],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (utc_str(r["session_start"]), r["boardings"], r["n_updates"])
        for r in spark.read.parquet(out).collect()
    }
    assert ("2025-01-01 10:00:00", 12, 3) in rows
    assert ("2025-01-01 11:00:00", 7, 1) in rows


def test_upsert_state_sink_merges_per_batch(spark, dirs):
    """foreachBatch MERGE sink: batch keys upsert into the state table
    without rewriting untouched keys' values."""
    from open_data_lakehouse_demo_spark.plans import ddl

    ddl.create_namespace(spark, "lakehouse_stream_test")
    table = "lakehouse_stream_test.bus_state_upsert"
    try:
        seedf = spark.createDataFrame(
            [(99, "line-99", 0, 0, 60, None)],
            "bus_line_id BIGINT, bus_line STRING, remaining_at_stop BIGINT, "
            "total_passengers BIGINT, total_capacity BIGINT, update_timestamp TIMESTAMP",
        )
        ddl.ctas_from_df(seedf, table)

        _drop(dirs["src"], "b1.jsonl", BATCH_1)
        parsed = st.parse_envelope(st.read_json_stream(spark, dirs["src"]))
        q = st.upsert_state_sink(parsed, spark, table, f"{dirs['ckpt']}/upsert")
        try:
            q.processAllAvailable()
            state = {r["bus_line_id"]: r for r in spark.table(table).collect()}
            # seeded key untouched, batch keys upserted
            assert state[99]["bus_line"] == "line-99"
            assert state[1]["remaining_at_stop"] == 0
            assert state[2]["total_passengers"] == 20

            _drop(dirs["src"], "b2.jsonl", BATCH_2)
            q.processAllAvailable()
            state2 = {r["bus_line_id"]: r for r in spark.table(table).collect()}
            assert state2[1]["remaining_at_stop"] == 7
            assert 99 in state2
        finally:
            q.stop()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql("DROP NAMESPACE IF EXISTS lakehouse_stream_test")


def test_streaming_worker_manager_lifecycle(spark, dirs, tmp_path):
    """Orchestration plane (SURVEY §3): start/status/stop of named workers
    via StreamingQuery handles — the webapp state machine's equivalent."""
    _drop(dirs["src"], "b1.jsonl", BATCH_1)
    mgr = st.StreamingWorkerManager()
    parsed = st.parse_envelope(st.read_json_stream(spark, dirs["src"]))

    def start_alerts():
        return (
            st.alerts_stream(parsed)
            .writeStream.format("json")
            .option("path", dirs["alerts"])
            .option("checkpointLocation", f"{dirs['ckpt']}/mgr_alerts")
            .outputMode("append")
            .start()
        )

    q = mgr.start("alerts", start_alerts)
    assert mgr.start("alerts", start_alerts) is q  # idempotent start
    mgr.await_idle("alerts")
    snap = mgr.status()
    assert snap["alerts"]["state"] == "RUNNING"
    assert snap["alerts"]["error"] is None
    assert snap["alerts"]["last_progress"] is not None
    assert mgr.healthy("alerts")

    assert mgr.stop("alerts") is True
    assert mgr.stop("alerts") is False  # already stopped
    assert mgr.status()["alerts"]["state"] == "STOPPED"
    assert mgr.stop("never_started") is False


@pytest.mark.parametrize("name", ["capacity_alerts_batch", "latest_bus_state_batch"])
def test_streaming_batch_view_oracle_parity(spark, duck, name):
    q = QUERIES[name]
    assert q.oracle is not None
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, name)


def test_kafka_source_option_contract(spark):
    """S9: the exact reader option set (ref pyspark-job.py:121-131) asserted
    against a mocked DataStreamReader — the config can't rot even though no
    broker exists in the sandbox (VERDICT r1 item 7)."""
    from unittest.mock import MagicMock

    from open_data_lakehouse_demo_spark.streaming.job import kafka_source

    spark = MagicMock()  # real session fixture only keeps the JVM up for F.col
    reader = spark.readStream.format.return_value
    reader.option.return_value = reader
    kafka_source(
        spark,
        "broker:9092",
        "bus-rides",
        starting_offsets="earliest",
        sasl_username="user1",
        sasl_password="pw1",
    )
    spark.readStream.format.assert_called_once_with("kafka")
    opts = {c.args[0]: c.args[1] for c in reader.option.call_args_list}
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "bus-rides"
    assert opts["startingOffsets"] == "earliest"
    assert opts["kafka.security.protocol"] == "SASL_SSL"
    assert opts["kafka.sasl.mechanism"] == "PLAIN"
    assert "PlainLoginModule required" in opts["kafka.sasl.jaas.config"]
    assert 'username="user1"' in opts["kafka.sasl.jaas.config"]
    assert 'password="pw1"' in opts["kafka.sasl.jaas.config"]
    reader.load.assert_called_once_with()
    # raw_value projection applied on the loaded stream
    assert reader.load.return_value.select.called


def test_kafka_source_no_sasl_without_credentials(spark):
    from unittest.mock import MagicMock

    from open_data_lakehouse_demo_spark.streaming.job import kafka_source

    spark = MagicMock()  # real session fixture only keeps the JVM up for F.col
    reader = spark.readStream.format.return_value
    reader.option.return_value = reader
    kafka_source(spark, "broker:9092", "bus-rides")
    opts = {c.args[0]: c.args[1] for c in reader.option.call_args_list}
    assert "kafka.security.protocol" not in opts
    assert opts["startingOffsets"] == "latest"  # production default


def test_kafka_sink_option_contract():
    """S10: writer options + append mode + start() (ref pyspark-job.py:157-168)."""
    from unittest.mock import MagicMock

    from open_data_lakehouse_demo_spark.streaming.job import kafka_sink

    df = MagicMock()
    w = df.writeStream.format.return_value
    w.option.return_value = w
    w.outputMode.return_value = w
    q = kafka_sink(df, "broker:9092", "alerts", "/tmp/ckpt-alerts")
    df.writeStream.format.assert_called_once_with("kafka")
    opts = {c.args[0]: c.args[1] for c in w.option.call_args_list}
    assert opts == {
        "kafka.bootstrap.servers": "broker:9092",
        "topic": "alerts",
        "checkpointLocation": "/tmp/ckpt-alerts",
    }
    w.outputMode.assert_called_once_with("append")
    w.start.assert_called_once_with()
    assert q is w.start.return_value


def test_session_window_stream_matches_batch_sessionization(spark, tmp_path):
    """Cross-validate W3 (batch gap-sessionization) against T9's streaming
    session_window on the same events: session bounds and counts must be
    identical. (Boundary note: Spark's session_window treats an EXACTLY
    30-min gap as a new session while the batch query keeps it — the
    fixture has no exact-1800s gap, checked by construction.)"""
    from open_data_lakehouse_demo_spark.sources.io import read_parquet

    sf = "/root/testdata/sf0.001"
    events = read_parquet(spark, f"{sf}/events.parquet")
    src = str(tmp_path / "events_json")
    events.selectExpr(
        "event_id", "CAST(ts AS STRING) AS ts", "user_id"
    ).coalesce(1).write.mode("overwrite").json(src)

    stream = (
        spark.readStream.schema("event_id BIGINT, ts STRING, user_id BIGINT")
        .json(src)
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id")
    )
    agg = (
        stream.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
    out = str(tmp_path / "out")
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.sql("select * from sessions_stream").collect()
        }
    finally:
        q.stop()

    batch = QUERIES["user_sessions"].spark(spark, sf)
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    assert got == want


def test_streaming_ohlc_matches_batch_twin(spark, tmp_path):
    """Replaying the events table through the windowed_ohlc stream must be
    byte-identical to the batch daily_ohlc query over the same rows — the
    struct(ts, event_id, value) total order makes open/close independent
    of arrival order (the reason the rollup avoids first()/last())."""
    import datetime

    from open_data_lakehouse_demo_spark.sources.io import read_parquet
    from open_data_lakehouse_demo_spark.streaming.rollups import windowed_ohlc

    events = read_parquet(spark, f"{SF_DIR}/events.parquet").select(
        "ts", "event_type", "event_id", "value"
    )
    # bound the set so every window finalizes: keep days < the max day,
    # then append one late sentinel row on the max day to push the
    # watermark past all kept windows
    bounds = events.agg(F.max(F.col("ts").cast("date")).alias("dmax")).collect()[0]
    kept = events.filter(F.col("ts").cast("date") < F.lit(bounds["dmax"]))

    src = str(tmp_path / "src")
    os.makedirs(src)
    # jsonl roundtrip with full microsecond precision
    rows = kept.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        "event_type",
        "event_id",
        "value",
    ).collect()
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps({"ts_s": r["ts_s"], "event_type": r["event_type"],
                                "event_id": r["event_id"], "value": r["value"]}) + "\n")
    sentinel = {
        "ts_s": f"{bounds['dmax'].isoformat()} 23:59:59.000000",
        "event_type": "view", "event_id": -1, "value": 0.0,
    }

    schema = "ts_s string, event_type string, event_id bigint, value double"
    parsed = (
        spark.readStream.schema(schema).json(src)
        .select(
            # watermarks require TIMESTAMP (LTZ) — parse in the session tz
            # (pinned UTC in session.py), so wall times match the batch
            # twin's NTZ values exactly
            F.to_timestamp(F.col("ts_s"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "event_type",
            "event_id",
            "value",
        )
    )
    out = str(tmp_path / "ohlc_out")
    q = (
        windowed_ohlc(parsed, "1 day", "1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        with open(os.path.join(src, "b2.jsonl"), "w") as f:
            f.write(json.dumps(sentinel) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        # window_start is an INSTANT (streaming watermarks need LTZ):
        # collected values render in the PYTHON local zone — invert to
        # the UTC wall the session computed in (broke under
        # TZ=America/New_York, the 7th local-rendering fragility)
        (utc_naive(r["window_start"]).date().isoformat(), r["event_type"]): (
            r["open_value"], r["high_value"], r["low_value"], r["close_value"], r["n_events"]
        )
        for r in spark.read.parquet(out).collect()
    }
    batch = QUERIES["daily_ohlc"]
    want = {
        (r["day"].isoformat(), r["event_type"]): (
            r["open_value"], r["high_value"], r["low_value"], r["close_value"], r["n_events"]
        )
        for r in batch.spark(spark, SF_DIR).collect()
        if r["day"] < bounds["dmax"]
    }
    assert got == want and len(got) > 0


def test_available_now_drains_and_stops_then_resumes(spark, dirs):
    """Trigger.AvailableNow (incremental batch): processes everything in
    the source then terminates on its own; a later availableNow run on
    the SAME checkpoints picks up only the new files — the
    backfill/catch-up contract."""
    _drop(dirs["src"], "b1.jsonl", BATCH_1)
    alerts_q, state_q = st.run_pipeline(
        spark, dirs["src"], dirs["ckpt"], dirs["alerts"], dirs["state"],
        available_now=True,
    )
    assert alerts_q.awaitTermination(120), "alerts query did not self-stop"
    assert state_q.awaitTermination(120), "state query did not self-stop"
    assert not alerts_q.isActive and not state_q.isActive
    n_alerts_first = len(_read_alerts(dirs["alerts"]))
    assert n_alerts_first == 2  # r1 and r2 alert rows from batch 1

    # catch-up run: only batch 2 is new; exactly-once via shared checkpoint
    _drop(dirs["src"], "b2.jsonl", BATCH_2)
    alerts_q2, state_q2 = st.run_pipeline(
        spark, dirs["src"], dirs["ckpt"], dirs["alerts"], dirs["state"],
        available_now=True,
    )
    assert alerts_q2.awaitTermination(120)
    assert state_q2.awaitTermination(120)
    alerts = _read_alerts(dirs["alerts"])
    assert len(alerts) > n_alerts_first  # batch-2 alerts appended, none re-emitted twice
    assert ("r2", 1) in {(a["bus_ride_id"], a["remaining_at_stop"]) for a in alerts}
    state = {r["bus_line_id"] for r in spark.read.parquet(dirs["state"]).collect()}
    assert state == {1}  # line 2 retired by its last_stop event in batch 2


def test_observed_envelope_quality_metrics(spark, dirs):
    """DataFrame.observe counters ride the alert query's plan: per
    micro-batch, observedMetrics reports total input rows and how many
    envelopes failed the parse (malformed JSON or missing ride id) —
    rows the pipeline silently drops otherwise."""
    good = BATCH_1[0]
    _drop(
        dirs["src"], "b1.jsonl",
        [good, "not json at all", json.dumps({"id": "x", "data": {}})],
    )
    alerts_q, state_q = st.run_pipeline(
        spark, dirs["src"], dirs["ckpt"], dirs["alerts"], dirs["state"]
    )
    try:
        alerts_q.processAllAvailable()
        state_q.processAllAvailable()
        om = (alerts_q.lastProgress or {}).get("observedMetrics", {})
        q = om.get("envelope_quality")
        assert q is not None, f"no envelope_quality in {om}"
        assert q["rows"] == 3
        assert q["malformed"] == 2
    finally:
        alerts_q.stop()
        state_q.stop()
