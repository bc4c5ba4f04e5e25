"""The ``lakehouse_ingest`` workload: streaming writes beside dashboard
reads and a fixed maintenance pass, on ``table_log`` tables.

Set-up (untimed): a seeded ``events`` feed is projected into bus-update
envelopes and written as one JSONL file per time window by
``streaming/replay.py``; two ``table_log`` tables are created and the
reference's dual-sink topology is started over an empty source
directory (``streaming/job.py``: parse, then the alert branch appending
to ``alerts`` and the latest-state aggregation overwriting
``bus_state``, both through ``foreachBatch``). One warm-up cycle runs.

Timed window, closed loop, one client: each cycle drops the next file
into the source directory, waits until both sinks have committed
(``freshness``), then runs the dashboard reads: latest bus state, the
metadata alert count, a time-travel read one snapshot back, a
stats-pruned ``read_where`` on the newest window and the change feed of
the last commit.

After the window the maintenance pass runs once, timed: ``merge``,
``delete_rows``, ``update_where``, a ``table_dml`` DELETE and
``compact``. Every read result and the final tables are checked against
a model computed in Python from the generated feed.

Latencies come from untraced cycles only, and the maintenance time
leaves out the tracer's own job and stage reads.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import metrics as M
from perfbench.datagen import events_table

N_FILES = 48          # more windows than one run can consume
ROWS_PER_FILE = 400
N_LINES = 25          # streaming/replay.py's bus-line count
ALERT_COLS = ("bus_ride_id", "bus_line", "bus_stop_id", "remaining_at_stop",
              "timestamp_at_stop")
ALERT_DDL = ("bus_ride_id string, bus_line string, bus_stop_id bigint, "
             "remaining_at_stop bigint, timestamp_at_stop timestamp")


class Model:
    """The expected tables, from the feed alone (the projection in
    ``streaming/replay.py`` and the alert and state rules of
    ``streaming/job.py``)."""

    def __init__(self, feed):
        ev = feed.to_pydict()
        self.batches: list[list[dict]] = [[] for _ in range(N_FILES)]
        for eid, ts, uid, val in zip(ev["event_id"], ev["ts"], ev["user_id"],
                                     ev["value"]):
            line = uid % N_LINES
            stop_index = eid % 35
            self.batches[eid % N_FILES].append({
                "bus_ride_id": f"ride_{uid}_{eid}",
                "bus_line_id": line,
                "bus_line": f"line-{line}",
                "bus_stop_id": eid % 431,
                "remaining_at_stop": eid % 15,
                "total_passengers": int(val) % 40,
                "total_capacity": 60,
                "timestamp_at_stop": ts,
                "last_stop": stop_index == 34,
            })
        # after each batch: the alert table's row count and the state
        self.alert_counts: list[int] = []
        self.states: list[list[tuple]] = []
        alerts: set[str] = set()
        latest: dict[int, dict] = {}
        for batch in self.batches:
            for r in batch:
                if r["remaining_at_stop"] >= 1:
                    alerts.add(r["bus_ride_id"])
                cur = latest.get(r["bus_line_id"])
                key = (r["timestamp_at_stop"], r["bus_ride_id"])
                if cur is None or key > (cur["timestamp_at_stop"], cur["bus_ride_id"]):
                    latest[r["bus_line_id"]] = r
            self.alert_counts.append(len(alerts))
            self.states.append(sorted(
                (r["bus_line_id"], r["bus_line"], r["remaining_at_stop"],
                 r["total_passengers"], r["total_capacity"], r["timestamp_at_stop"])
                for r in latest.values() if not r["last_stop"]))

    def alerts(self, n_batches: int) -> dict[str, tuple]:
        """The alert rows once the first ``n_batches`` files committed."""
        return {r["bus_ride_id"]: tuple(r[c] for c in ALERT_COLS)
                for batch in self.batches[:n_batches] for r in batch
                if r["remaining_at_stop"] >= 1}

    def window_start(self, b: int) -> dt.datetime:
        return min(r["timestamp_at_stop"] for r in self.batches[b])

    def batch_alerts(self, b: int) -> int:
        return sum(1 for r in self.batches[b] if r["remaining_at_stop"] >= 1)


def make_feed(seed: int):
    """The seeded events feed; window ``b`` is replay batch ``b``.
    Timestamps are whole milliseconds, the precision of the envelope
    JSON."""
    rng = np.random.default_rng(seed + 1)
    t = events_table(rng, N_FILES * ROWS_PER_FILE, 1500, n_windows=N_FILES)
    ts = t.column("ts").cast("int64").to_numpy() // 1000 * 1000
    return t.set_column(1, "ts", pa.array(ts).cast(pa.timestamp("us")))


class _SinkTimes:
    """Commit intervals recorded by the sinks, which run on streaming
    threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.items: list[tuple[str, float, float]] = []

    def wrap(self, name: str, fn):
        def sink(df, batch_id):
            a = time.perf_counter()
            fn(df, batch_id)
            with self.lock:
                self.items.append((name, a, time.perf_counter()))
        return sink

    def drain(self) -> list[tuple[str, float, float]]:
        with self.lock:
            out, self.items = self.items, []
        return out


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from open_data_lakehouse_demo_spark.sources import table_log as tl
    from open_data_lakehouse_demo_spark.sources.table_sql import table_dml
    from open_data_lakehouse_demo_spark.streaming import job, replay

    spark, tr = ctx.spark, ctx.tracer
    root = ctx.work_dir
    staging, source = f"{root}/staging", f"{root}/source"
    alerts_path, state_path = f"{root}/tables/alerts", f"{root}/tables/bus_state"
    os.makedirs(source, exist_ok=True)

    feed = make_feed(ctx.seed)
    model = Model(feed)
    feed_dir = f"{root}/feed"
    os.makedirs(feed_dir, exist_ok=True)
    pq.write_table(feed, f"{feed_dir}/events.parquet")
    with tr.span("streaming.replay"):
        a = time.perf_counter()
        events = spark.read.parquet(f"{feed_dir}/events.parquet")
        files = replay.replay_to_json_files(
            replay.events_as_bus_updates(events), staging, n_batches=N_FILES)
        replay_s = time.perf_counter() - a

    with tr.span("table_log.create"):
        tl.create(spark, alerts_path, spark.createDataFrame([], ALERT_DDL))
        tl.create(spark, state_path,
                  spark.createDataFrame([], job.STATE_SCHEMA))

    sinks = _SinkTimes()
    parsed = job.parse_envelope(job.read_json_stream(spark, source))
    alert_rows = job.alerts_stream(parsed).select(
        F.from_json("value", ALERT_DDL).alias("a")).select("a.*")
    alerts_q = (alert_rows.writeStream
                .foreachBatch(sinks.wrap("table_log.append",
                                         tl.foreach_batch_appender(alerts_path, "alerts")))
                .option("checkpointLocation", f"{root}/ckpt/alerts").start())
    state_q = (job.latest_state_agg(parsed).writeStream
               .foreachBatch(sinks.wrap(
                   "table_log.overwrite",
                   lambda df, _id: tl.overwrite(df.sparkSession, state_path, df)))
               .outputMode("complete")
               .option("checkpointLocation", f"{root}/ckpt/state").start())

    lat: dict[str, list[float]] = defaultdict(list)
    executed = [0]                       # timed operations, traced or not
    observed: list[tuple] = []          # (what, batch, got, want)
    pruned: list[float] = []
    snapshots_after: list[int] = []

    def timed(kind: str, span: str, fn, *args):
        a = time.perf_counter()
        out = tr.call(span, fn, *args)
        executed[0] += 1
        if not tr.enabled:
            lat[kind].append(time.perf_counter() - a)
        return out

    def cycle(b: int, measured: bool) -> None:
        with tr.operation(f"cycle{b}"), tr.span("cycle"):
            os.rename(files[b], f"{source}/batch_{b:04d}.jsonl")
            a = time.perf_counter()
            with tr.span("streaming.batch"):
                alerts_q.processAllAvailable()
                state_q.processAllAvailable()
                for name, s0, s1 in sinks.drain():
                    tr.add_span(name, s0, s1)
            fresh = time.perf_counter() - a
            snapshots_after.append(tr.call("table_log.describe", tl.describe,
                                           alerts_path)["snapshot"])
            if not measured:
                return
            executed[0] += 1
            if not tr.enabled:
                lat["freshness"].append(fresh)
            state = timed("read", "table_log.read",
                          lambda: tl.read(spark, state_path).collect())
            observed.append(("state", b, sorted(tuple(r) for r in state),
                             model.states[b]))
            n = timed("read", "table_log.count_rows", tl.count_rows, alerts_path)
            observed.append(("alert_count", b, n, model.alert_counts[b]))
            snap = snapshots_after[-2]   # the commit of the previous cycle
            n = timed("read", "table_log.read_snapshot",
                      lambda: tl.read(spark, alerts_path, snapshot=snap).count())
            observed.append(("time_travel", b, n, model.alert_counts[b - 1]))
            where = [("timestamp_at_stop", ">=", model.window_start(b))]
            keep, skip = tr.call("table_log.plan_scan", tl.plan_scan, alerts_path, where)
            pruned.append(len(skip) / max(1, len(keep) + len(skip)))
            n = timed("read", "table_log.read_where",
                      lambda: tl.read_where(spark, alerts_path, where).count())
            observed.append(("read_where", b, n, model.batch_alerts(b)))
            n = timed("read", "table_log.changes_feed",
                      lambda: tl.table_changes_feed(spark, alerts_path, snap)[0].count())
            observed.append(("changes_feed", b, n, model.batch_alerts(b)))

    with tr.span("session.warmup"):
        cycle(0, measured=False)
        cycle(1, measured=True)
    lat.clear()
    executed[0] = 0
    observed.clear()
    pruned.clear()
    ctx.mark_setup_done()

    pass_times = {True: [], False: []}
    t0 = time.perf_counter()
    b = 2
    # A traced run traces four of its first eight cycles, alternating,
    # and runs at least those eight.
    min_cycles = 8 if ctx.trace else 1
    while (time.perf_counter() - t0 < ctx.seconds or b - 2 < min_cycles) \
            and b < N_FILES:
        tr.enabled = ctx.trace and b - 2 < min_cycles and b % 2 == 0
        p0 = time.perf_counter()
        with tr.span("pass"):
            cycle(b, measured=True)
        if b - 2 < min_cycles:
            pass_times[tr.enabled].append(time.perf_counter() - p0)
        b += 1
    elapsed = time.perf_counter() - t0
    tr.enabled = ctx.trace
    n_batches = b
    progress = [p for q in (alerts_q, state_q) for p in q.recentProgress]
    alerts_q.stop()
    state_q.stop()

    expected = model.alerts(n_batches)
    maint = _maintenance(ctx, tl, table_dml, alerts_path, model, expected)
    exec_counts = dict(tr.counts)
    final_alerts = [tuple(r) for r in tl.read(spark, alerts_path)
                    .select(*ALERT_COLS).collect()]
    observed.append(("final_alerts", n_batches,
                     M.hash_rows(ALERT_COLS, final_alerts),
                     M.hash_rows(ALERT_COLS, list(expected.values()))))

    return {
        "ops": executed[0],
        "elapsed": elapsed,
        "latencies": [x for v in lat.values() for x in v],
        "freshness": lat["freshness"],
        "reads": lat["read"],
        "maintenance": maint,
        "observed": observed,
        "pruned_file_ratio": M.median(pruned),
        "progress": progress,
        "replay_s": replay_s,
        "tables": (alerts_path, state_path),
        "pass_times": pass_times,
        "exec_counts": exec_counts,
    }


def _maintenance(ctx, tl, table_dml, path: str, model: Model, alerts: dict) -> float:
    """The fixed DML pass on the ``alerts`` table, applied to the expected
    rows ``alerts`` too. Returns its wall time without the tracer's
    bookkeeping."""
    spark, tr = ctx.spark, ctx.tracer
    upd = [v[:3] + (v[3] + 100, v[4]) for v in alerts.values() if v[1] == "line-3"]
    base = max(v[4] for v in alerts.values())
    ins = [(f"ride_new_{i}", "line-0", 7, 5, base + dt.timedelta(milliseconds=i + 1))
           for i in range(10)]
    source = spark.createDataFrame(upd + ins, ALERT_DDL)
    cut = model.window_start(2)     # deletes the first two windows

    with tr.operation("maintenance"), tr.span("maintenance"):
        a = time.perf_counter()
        tr.call("table_log.merge", tl.merge, spark, path, source, ["bus_ride_id"])
        tr.call("table_log.delete_rows", tl.delete_rows, spark, path,
                [("timestamp_at_stop", "<", cut)])
        tr.call("table_log.update_where", tl.update_where, spark, path,
                [("bus_stop_id", "<", 50)],
                {"remaining_at_stop": "remaining_at_stop + 1"})
        tr.call("table_sql.dml", table_dml, spark,
                f"DELETE FROM '{path}' WHERE remaining_at_stop = 14")
        tr.call("table_log.compact", tl.compact, spark, path)
        took = time.perf_counter() - a - tr.bookkeeping_since(a)

    for r in upd + ins:
        alerts[r[0]] = r
    for k in [k for k, v in alerts.items() if v[4] < cut or
              v[3] + (v[2] < 50) == 14]:
        del alerts[k]
    for k, v in alerts.items():
        if v[2] < 50:
            alerts[k] = v[:3] + (v[3] + 1, v[4])
    return took


def table_stats(paths) -> dict[str, float]:
    """table_log.* counts and ``write_amp`` from the tables on disk: every
    byte under the table directories, against the bytes of the data
    files the latest snapshot lists."""
    import json

    out = defaultdict(float)
    written = live = 0
    for path in paths:
        log = f"{path}/_log"
        snaps = sorted(f for f in os.listdir(log) if f.endswith(".json"))
        seen: set[str] = set()
        for name in snaps:
            with open(f"{log}/{name}") as f:
                m = json.load(f)
            new = set(m["files"]) - seen
            out["table_log.files_added"] += len(new)
            out["table_log.files_rewritten"] += m.get("rewritten_files", 0)
            seen |= set(m["files"])
        out["table_log.snapshots"] += len(snaps)
        out["table_log.manifest_bytes"] += M.dir_bytes(log)
        written += M.dir_bytes(path)
        live += sum(os.path.getsize(f"{path}/{f}") for f in m["files"])
    out["table_log.bytes_written"] = written
    out["write_amp"] = M.write_amp(written, live)
    return dict(out)
