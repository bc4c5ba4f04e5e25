"""Snapshot-versioned parquet table log (sources/table_log.py): the
native fallback for the Iceberg contracts the reference demo relies on
(snapshot isolation, time travel — lakehouse_part1_load_data.py:235-240
and :505-508 create/write Iceberg tables; code/pyspark-job.py:205-216
streams into tables) in an environment without the Iceberg runtime jar."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.sources import table_log as tl


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def base(spark):
    return spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v1").alias("tag")
    )


class _FakeObjectStore:
    """In-memory conditional-PUT object store: the put-if-absent race is
    decided by dict membership under a lock — the If-None-Match:* /
    x-goog-if-generation-match:0 generation check — and winners mirror
    the payload to the filesystem via atomic rename so the log's read
    path observes only fully-published objects. This makes the
    "CommitProtocol ports the log to GCS/S3" claim tested code: the
    race/replay tests below run against BOTH protocols and the
    atomicity decision here never touches the POSIX link(2) path."""

    def __init__(self):
        import threading

        self.objects: dict[str, str] = {}
        self._lock = threading.Lock()

    def put_if_absent(self, path: str, payload: str) -> bool:
        # The filesystem mirror must become readable BEFORE the claim is
        # droppable by a competitor's rebase: a real conditional PUT is
        # one atomic operation (loser's failed PUT implies the winner's
        # object is already readable), and append()'s rebase-and-retry
        # loop depends on exactly that — a loser that rebases while the
        # winner's manifest is claimed-but-invisible would retry the same
        # snapshot id and could exhaust its retries. Hold the lock across
        # claim + write + rename so claim and visibility are inseparable.
        import uuid

        with self._lock:
            if path in self.objects:
                return False
            self.objects[path] = payload
            d = os.path.dirname(path)
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".put-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(payload)
            os.replace(tmp, path)
        return True


@pytest.fixture(params=["posix_link", "conditional_put"])
def commit_protocol(request, monkeypatch):
    """Parametrizes a test over both commit protocols (VERDICT r9 #5):
    the POSIX link(2) default and a fake object-store conditional PUT."""
    if request.param == "conditional_put":
        store = _FakeObjectStore()
        monkeypatch.setattr(
            tl, "DEFAULT_COMMIT_PROTOCOL", tl.ConditionalPutCommit(store.put_if_absent)
        )
    return request.param


def test_create_append_read_roundtrip(spark, base, tmp_path):
    path = str(tmp_path / "t")
    assert tl.create(spark, path, base) == 0
    assert tl.read(spark, path).count() == 10

    more = spark.range(10, 15).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v2").alias("tag")
    )
    assert tl.append(spark, path, more) == 1
    assert tl.read(spark, path).count() == 15
    # snapshot 0 is unchanged — time travel by id
    assert tl.read(spark, path, snapshot=0).count() == 10
    assert _rows(tl.read(spark, path, snapshot=0)) == _rows(base)


def test_time_travel_by_timestamp(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    t_between = int(time.time() * 1000)
    # manifests stamp ms; make sure the next commit lands strictly later
    time.sleep(0.01)
    tl.append(spark, path, base.withColumn("tag", F.lit("v2")))
    assert tl.read(spark, path, as_of_ts_ms=t_between).count() == 10
    assert tl.read(spark, path).count() == 20
    with pytest.raises(ValueError):
        tl.read(spark, path, as_of_ts_ms=0)


def test_overwrite_and_rollback(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    tl.overwrite(spark, path, base.filter("id < 3"))
    assert tl.read(spark, path).count() == 3
    # rollback = roll-forward restore: new snapshot, history intact
    s = tl.rollback(spark, path, 0)
    assert s == 2
    assert _rows(tl.read(spark, path)) == _rows(base)
    assert tl.read(spark, path, snapshot=1).count() == 3
    ops = [h["operation"] for h in tl.history(path)]
    assert ops == ["create", "overwrite", "rollback"]
    assert tl.history(path)[-1]["restored_snapshot"] == 0


def test_delete_where_is_snapshot_isolated(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    tl.delete_where(spark, path, "bucket = 0")
    cur = tl.read(spark, path)
    assert cur.filter("bucket = 0").count() == 0
    assert cur.count() == 6
    # the deleted rows are still visible at snapshot 0
    assert tl.read(spark, path, snapshot=0).count() == 10
    assert tl.history(path)[-1]["predicate"] == "bucket = 0"


def test_schema_evolution_additive(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    evolved = base.withColumn("score", F.col("id").cast("double"))
    tl.append(spark, path, evolved)
    cur = tl.read(spark, path)
    assert "score" in cur.columns
    # old files scan as NULL for the new column; new files carry values
    assert cur.filter(F.col("score").isNull()).count() == 10
    assert cur.filter(F.col("score").isNotNull()).count() == 10
    assert tl.history(path)[-1]["schema_evolved"] is True


def test_partitioned_table_prunes_and_keeps_partition_column(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base, partition_by=["bucket"])
    df = tl.read(spark, path)
    assert set(df.columns) == {"id", "bucket", "tag"}
    assert df.filter("bucket = 1").count() == 3
    # partition pruning reaches the file source: the pushed filter on the
    # partition column appears as a partition filter, not a data filter
    plan = df.filter("bucket = 1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_partitioned_appends_share_one_layout(spark, base, tmp_path):
    """Two writes of a partitioned table must land in the SAME hive
    partition tree — a per-write subdir makes the reader reject the mix
    as conflicting directory structures (regression: found driving two
    appends of an o_orderstatus-partitioned table)."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base, partition_by=["bucket"])
    tl.append(spark, path, base.withColumn("tag", F.lit("v2")))
    df = tl.read(spark, path)
    assert df.count() == 20
    assert df.filter("bucket = 1").count() == 6
    # snapshot isolation still holds per write
    assert tl.read(spark, path, snapshot=0).count() == 10


def test_commit_conflict_raises(spark, base, tmp_path, commit_protocol):
    """Two writers that both observed snapshot 0 race to commit id 1:
    the link(2) claim admits exactly one; the loser gets CommitConflict
    (and its temp manifest is cleaned up)."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    m = tl._manifest("append", tl._read_manifest(path, 0)["files"], base.schema.json(), None)
    tl._commit(path, 1, m)  # writer A wins
    with pytest.raises(tl.CommitConflict):
        tl._commit(path, 1, m)  # writer B raced the same id
    # the loser's temp file was removed; only numbered manifests remain
    assert all(
        f.endswith(".json") and f[:-5].isdigit() for f in os.listdir(tl._log_dir(path))
    )
    # a retry on the CURRENT latest succeeds as snapshot 2
    assert tl.append(spark, path, base) == 2


def test_reader_pinned_across_concurrent_append(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    pinned = tl.read(spark, path)  # resolved BEFORE the append commits
    tl.append(spark, path, base.withColumn("tag", F.lit("v2")))
    # the pre-commit DataFrame still reads exactly snapshot 0's files
    assert pinned.count() == 10
    assert tl.read(spark, path).count() == 20


def test_merge_upsert(spark, base, tmp_path):
    """MERGE on the key column: matched rows take the source version,
    unmatched source rows insert, untouched target rows survive; the
    result is one atomic snapshot and the pre-merge snapshot still
    time-travels."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    src = spark.createDataFrame(
        [(0, 0, "patched"), (99, 0, "new")], ["id", "bucket", "tag"]
    )
    s = tl.merge(spark, path, src, on=["id"])
    cur = tl.read(spark, path)
    assert cur.count() == 11
    got = {r["id"]: r["tag"] for r in cur.collect()}
    assert got[0] == "patched" and got[99] == "new" and got[5] == "v1"
    assert tl.read(spark, path, snapshot=s - 1).count() == 10
    assert tl.history(path)[-1]["operation"] == "merge"


def test_idempotent_txn_append(spark, base, tmp_path, commit_protocol):
    """The Delta txnAppId/txnVersion contract: a replayed (writer,
    version) append is a no-op; a newer version commits."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    s1 = tl.append(spark, path, base, txn=("job-a", 0))
    assert s1 == 1 and tl.read(spark, path).count() == 20
    # replay of the same batch: skipped, rows unchanged
    assert tl.append(spark, path, base, txn=("job-a", 0)) == 1
    assert tl.read(spark, path).count() == 20
    # an OLDER version is also a replay (restart from an earlier epoch)
    assert tl.append(spark, path, base, txn=("job-a", -1)) == 1
    # a different writer is independent; a newer version commits
    assert tl.append(spark, path, base, txn=("job-b", 0)) == 2
    assert tl.append(spark, path, base, txn=("job-a", 1)) == 3
    assert tl.read(spark, path).count() == 40


def test_streaming_foreach_batch_sink_exactly_once(spark, base, tmp_path, commit_protocol):
    """Drive a real file-source stream into the log via
    foreach_batch_appender; every micro-batch is one snapshot, and
    re-delivering a batch id (the foreachBatch at-least-once case)
    does not duplicate rows."""
    src = str(tmp_path / "src")
    path = str(tmp_path / "t")
    base.write.parquet(src)
    tl.create(spark, path, base.limit(0))  # empty table, schema fixed

    sink = tl.foreach_batch_appender(path, "ingest-q")
    stream = spark.readStream.schema(base.schema).parquet(src)
    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()
    assert _rows(tl.read(spark, path)) == _rows(base)

    # simulate the replay a crashed-and-restarted query performs
    sink(base, 0)
    assert tl.read(spark, path).count() == 10  # still exactly once
    ops = [h["operation"] for h in tl.history(path)]
    assert ops[0] == "create" and all(o == "append" for o in ops[1:])


def test_compact_rewrites_small_files(spark, base, tmp_path):
    """OPTIMIZE: many per-append files coalesce into one; rows identical,
    prior snapshots untouched, manifest records the input file count."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    for i in range(3):
        tl.append(spark, path, base.withColumn("tag", F.lit(f"a{i}")))
    before = tl._read_manifest(path, 3)
    s = tl.compact(spark, path, target_files=1)
    after = tl._read_manifest(path, s)
    assert len(after["files"]) < len(before["files"])
    assert after["compacted_from"] == len(before["files"])
    assert tl.read(spark, path).count() == 40
    assert _rows(tl.read(spark, path)) == _rows(tl.read(spark, path, snapshot=3))
    # compaction + vacuum = the full maintenance cycle
    tl.vacuum(spark, path, keep_last=1)
    assert tl.read(spark, path).count() == 40


def test_concurrent_appends_all_land(spark, base, tmp_path, commit_protocol):
    """Four writers appending the same table concurrently: the manifest
    claim races, losers rebase and retry (data files written once), and
    every append lands exactly once — no lost updates, no duplicates."""
    import threading

    path = str(tmp_path / "t")
    tl.create(spark, path, base.limit(0))
    frames = [
        base.withColumn("tag", F.lit(f"w{i}")).withColumn(
            "id", F.col("id") + i * 1000
        )
        for i in range(4)
    ]
    errs = []

    def work(df):
        try:
            tl.append(spark, path, df)
        except Exception as e:  # surface failures to the main thread
            errs.append(e)

    threads = [threading.Thread(target=work, args=(f,)) for f in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    cur = tl.read(spark, path)
    assert cur.count() == 40
    assert {r["tag"] for r in cur.select("tag").distinct().collect()} == {
        "w0", "w1", "w2", "w3"
    }
    ops = [h["operation"] for h in tl.history(path)]
    assert ops == ["create"] + ["append"] * 4


def test_metadata_tables(spark, base, tmp_path):
    """snapshots_table / files_table — the native twins of Iceberg's
    tbl.snapshots / tbl.files metadata introspection (SURVEY M4)."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base, partition_by=["bucket"])
    tl.append(spark, path, base.withColumn("tag", F.lit("v2")))

    snaps = tl.snapshots_table(spark, path).orderBy("snapshot_id").collect()
    assert [r["snapshot_id"] for r in snaps] == [0, 1]
    assert [r["operation"] for r in snaps] == ["create", "append"]
    assert snaps[1]["n_files"] > snaps[0]["n_files"]
    assert all(r["total_bytes"] > 0 for r in snaps)
    assert snaps[0]["committed_at_ms"] <= snaps[1]["committed_at_ms"]

    files = tl.files_table(spark, path).collect()
    assert len(files) == snaps[1]["n_files"]
    # footer row counts sum to the table row count; partition values parse
    assert sum(r["row_count"] for r in files) == 20
    assert {r["partition"]["bucket"] for r in files} == {"0", "1", "2"}
    # snapshot-pinned files view
    files0 = tl.files_table(spark, path, snapshot=0).collect()
    assert len(files0) == snaps[0]["n_files"]
    assert sum(r["row_count"] for r in files0) == 10


def test_model_based_random_op_sequence(spark, tmp_path):
    """Model check: a seeded random sequence of append/overwrite/delete/
    merge/compact/rollback ops, mirrored against a plain in-memory dict
    model. After every op the latest read matches the model AND every
    historical snapshot still matches the state the model had when that
    snapshot was committed — the strongest form of the snapshot-isolation
    contract (nothing ever mutates history)."""
    import random

    rnd = random.Random(20260815)
    path = str(tmp_path / "t")

    def df_of(d):
        return spark.createDataFrame(
            [(k, v) for k, v in sorted(d.items())] or [], "id BIGINT, val STRING"
        )

    def rows_of(df):
        return {(r["id"], r["val"]) for r in df.collect()}

    model = {i: f"v{i}" for i in range(8)}
    tl.create(spark, path, df_of(model))
    states = {0: dict(model)}  # snapshot id -> model state

    for step in range(10):
        op = rnd.choice(["append", "overwrite", "delete", "merge", "compact", "rollback"])
        if op == "append":
            # ids from a per-step disjoint range so the dict model stays
            # exact (append is row-level; duplicate ids would need a
            # multiset model)
            new = {1000 + step * 10 + i: f"a{step}" for i in range(3)}
            s = tl.append(spark, path, df_of(new))
            model.update(new)
        elif op == "overwrite":
            model = {rnd.randrange(50): f"o{step}" for _ in range(5)}
            s = tl.overwrite(spark, path, df_of(model))
        elif op == "delete":
            cut = rnd.randrange(40)
            s = tl.delete_where(spark, path, f"id >= {cut}")
            model = {k: v for k, v in model.items() if k < cut}
        elif op == "merge":
            src = {rnd.randrange(60): f"m{step}" for _ in range(4)}
            s = tl.merge(spark, path, df_of(src), on=["id"])
            model.update(src)
        elif op == "compact":
            s = tl.compact(spark, path)
        else:  # rollback to a random recorded snapshot
            target = rnd.choice(sorted(states))
            s = tl.rollback(spark, path, target)
            model = dict(states[target])
        states[s] = dict(model)
        # latest state matches the model
        assert rows_of(tl.read(spark, path)) == set(model.items()), f"step {step} op {op}"
    # EVERY recorded snapshot still reads as the state at its commit
    for snap, st in states.items():
        assert rows_of(tl.read(spark, path, snapshot=snap)) == set(st.items()), snap


def test_vacuum_expires_old_snapshots(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    tl.overwrite(spark, path, base.filter("id < 3"))
    deleted = tl.vacuum(spark, path, keep_last=1)
    assert deleted  # snapshot 0's files are gone
    assert [h["snapshot"] for h in tl.history(path)] == [1]
    assert tl.read(spark, path).count() == 3
    with pytest.raises(FileNotFoundError):
        tl._read_manifest(path, 0)


#: the copy-on-write rewrite verbs; "apply_changes" is the CDC apply's
#: merge branch, reached through sync_increment(keys=...)
REWRITE_VERBS = [
    "overwrite", "delete_where", "delete_rows", "update_where", "merge",
    "compact", "compact_small_files", "optimize_zorder", "apply_changes",
]


def _ten_rows(spark, lo):
    return spark.range(lo, lo + 10).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v1").alias("tag")
    ).coalesce(1)


def _rewrite_case(spark, path, verb, evolved=False):
    """Build a two-file table at ``path`` (ids 0..9 and 100..109) and
    return a zero-arg call of ``verb`` on it. ``evolved`` additionally
    renames bucket -> b, adds a constraint and MoR-deletes id 105 (a row
    of the SECOND file, so the stats-pruned verbs carry its vector)."""
    b = "b" if evolved else "bucket"
    if verb == "apply_changes":
        src = path + "_src"
        tl.create(spark, src, _ten_rows(spark, 0))
        tl.append(spark, src, _ten_rows(spark, 100))
        tl.sync_increment(spark, src, path, keys=["id"], writer_id="w")
        tl.delete_rows(spark, src, [("id", "<", 3)])  # retractions -> merge
    else:
        tl.create(spark, path, _ten_rows(spark, 0))
        tl.append(spark, path, _ten_rows(spark, 100))
    if evolved:
        tl.rename_column(path, "bucket", "b")
        tl.add_constraint(path, "id_nonneg", "id", ">=", 0)
        tl.delete_rows_mor(spark, path, [("id", "=", 105)])
    xf = (lambda df: df.withColumnRenamed("bucket", "b")) if evolved else None
    return {
        "overwrite": lambda: tl.overwrite(
            spark, path, tl.read(spark, path).filter("id < 5")),
        "delete_where": lambda: tl.delete_where(spark, path, "id < 5"),
        "delete_rows": lambda: tl.delete_rows(spark, path, [("id", "<", 5)]),
        "update_where": lambda: tl.update_where(
            spark, path, [("id", "<", 5)], {"tag": "'u'"}),
        "merge": lambda: tl.merge(spark, path, spark.range(3, 13).select(
            F.col("id"), F.lit(1).cast("long").alias(b), F.lit("m").alias("tag")),
            on=["id"]),
        "compact": lambda: tl.compact(spark, path),
        "compact_small_files": lambda: tl.compact_small_files(
            spark, path, target_bytes=10**9),
        "optimize_zorder": lambda: tl.optimize_zorder(
            spark, path, ["id", b], target_files=2),
        "apply_changes": lambda: tl.sync_increment(
            spark, path + "_src", path, transform=xf, keys=["id"], writer_id="w"),
    }[verb]


@pytest.mark.parametrize("verb", REWRITE_VERBS)
def test_rewrite_conflicts_with_concurrent_append(
    spark, tmp_path, monkeypatch, commit_protocol, verb
):
    """Lost-update race (r6 advice): an append that commits AFTER a
    rewrite verb pinned its base snapshot must surface as CommitConflict
    for the rewriter — never a silent clobber of the appended rows."""
    path = str(tmp_path / "t")
    run = _rewrite_case(spark, path, verb)
    before = tl.read(spark, path).count()
    real = tl._write_data_files
    raced = {"done": False}

    def racing_write(df, p, partition_by):
        files = real(df, p, partition_by)
        if not raced["done"]:
            raced["done"] = True  # append below re-enters this hook; fire once
            tl.append(spark, path, _ten_rows(spark, 1000))
        return files

    monkeypatch.setattr(tl, "_write_data_files", racing_write)
    with pytest.raises(tl.CommitConflict):
        run()
    assert raced["done"]
    # the concurrent append's rows survived intact
    assert tl.read(spark, path).count() == before + 10
    assert tl.history(path)[-1]["operation"] == "append"


def test_threaded_writers_race_posix_link(spark, tmp_path, monkeypatch):
    """N real writer threads against PosixLinkCommit: appends, a merge
    and a delete_rows run at once. Every append that returned is
    readable exactly once, each rewrite either committed or raised
    CommitConflict (nothing else), and no row is lost — the rewrites
    touch only base ids, which the appends never reuse."""
    import sys
    import threading

    monkeypatch.setattr(tl, "DEFAULT_COMMIT_PROTOCOL", tl.PosixLinkCommit())
    path = str(tmp_path / "t")
    tl.create(spark, path, _ten_rows(spark, 0))
    start = threading.Barrier(5)
    appended: list[int] = []
    outcome: dict[str, object] = {}
    lock = threading.Lock()

    def appender(k):
        start.wait()
        for j in range(3):
            lo = 1000 * (k + 1) + 10 * j
            tl.append(spark, path, _ten_rows(spark, lo))
            with lock:
                appended.append(lo)

    def rewriter(name, fn):
        start.wait()
        try:
            outcome[name] = fn()
        except tl.CommitConflict:
            outcome[name] = "conflict"
        except Exception as exc:  # noqa: BLE001 — recorded, asserted below
            outcome[name] = exc

    threads = [threading.Thread(target=appender, args=(k,)) for k in range(3)]
    threads.append(threading.Thread(target=rewriter, args=(
        "merge", lambda: tl.merge(spark, path, spark.range(5, 8).select(
            F.col("id"), F.lit(7).cast("long").alias("bucket"),
            F.lit("m").alias("tag")), on=["id"]))))
    threads.append(threading.Thread(target=rewriter, args=(
        "delete_rows", lambda: tl.delete_rows(spark, path, [("id", "<", 3)]))))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # interleave the writer threads' Python steps
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(appended) == 9
    ops = {h["snapshot"]: h["operation"] for h in tl.history(path)}
    for name, op in (("merge", "merge"), ("delete_rows", "delete")):
        got = outcome[name]
        assert got == "conflict" or ops.get(got) == op, (name, got)
    rows = tl.read(spark, path).collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))  # nothing duplicated
    want = {lo + i for lo in appended for i in range(10)} | set(range(3, 10))
    if outcome["delete_rows"] == "conflict":
        want |= {0, 1, 2}
    assert set(ids) == want
    tags = {r["id"]: r["tag"] for r in rows}
    merged = outcome["merge"] != "conflict"
    assert all((tags[i] == "m") == merged for i in (5, 6, 7))


#: manifest keys every rewrite commits, beside the verb's own
_MANIFEST_BASE = {"operation", "ts_ms", "files", "schema", "partition_by",
                  "file_stats", "txns"}
_EVOLUTION_KEYS = {"physical_names", "retired_names", "conform", "constraints"}
_VERB_KEYS = {
    "overwrite": set(),
    "delete_where": {"predicate", "change_data"},
    "delete_rows": {"predicate", "change_data", "rewritten_files",
                    "skipped_files"},
    "update_where": {"predicate", "set", "change_data", "rewritten_files",
                     "skipped_files"},
    "merge": {"merge_on", "change_data"},
    "compact": {"compacted_from"},
    "compact_small_files": {"compacted_from", "skipped_files", "target_bytes"},
    "optimize_zorder": {"zorder_by"},
    "apply_changes": {"merge_on", "change_data", "txn_app", "txn_version"},
}


@pytest.mark.parametrize("verb", REWRITE_VERBS)
def test_rewrite_manifest_keys(spark, tmp_path, verb):
    """The committed manifest's key set per rewrite verb — what
    history(), the change walkers and the benchmark's table stats read.
    On an evolved table (rename + constraint + a live deletion vector)
    every verb carries the evolution metadata (overwrite resets the
    physical-name mapping), and only the stats-pruned verbs that carry
    the vector's file keep it."""
    for evolved in (False, True):
        path = str(tmp_path / f"t{int(evolved)}")
        _rewrite_case(spark, path, verb, evolved)()
        m = tl._read_manifest(path, tl._list_snapshots(path)[-1])
        want = _MANIFEST_BASE | _VERB_KEYS[verb]
        if evolved:
            want |= _EVOLUTION_KEYS - ({"physical_names"} if verb == "overwrite" else set())
            if verb in ("delete_rows", "update_where"):
                want |= {"delete_vectors"}
        assert set(m) == want, (evolved, sorted(set(m) ^ want))


def test_txn_idempotency_survives_compact_and_is_o1(spark, base, tmp_path, commit_protocol):
    """The high-water txn map is carried forward by every operation
    (Delta setTransaction pattern), so (a) a replayed batch after a
    compact is still skipped and (b) the check reads only the LATEST
    manifest — O(1) driver I/O per append, not O(snapshots)."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    tl.append(spark, path, base, txn=("writer", 0))
    tl.append(spark, path, base, txn=("writer", 1))
    tl.compact(spark, path)
    n_before = tl.read(spark, path).count()
    # replays of both already-committed batches: skipped, no new snapshot
    latest = tl.append(spark, path, base, txn=("writer", 0))
    assert tl.append(spark, path, base, txn=("writer", 1)) == latest
    assert tl.read(spark, path).count() == n_before
    # O(1): the skip decision must not read any manifest but the latest
    reads: list[int] = []
    real_read = tl._read_manifest

    def counting_read(p, s):
        reads.append(s)
        return real_read(p, s)

    snaps = tl._list_snapshots(path)
    try:
        tl._read_manifest = counting_read
        tl.append(spark, path, base, txn=("writer", 1))
    finally:
        tl._read_manifest = real_read
    assert set(reads) == {snaps[-1]}


def test_schema_union_keeps_dropped_columns(spark, base, tmp_path):
    """Committed schema is the true UNION (r6 advice): an append whose
    df lacks an earlier column but adds a new one must keep BOTH in the
    recorded schema, and the empty-table read path must agree."""
    import json as _json

    path = str(tmp_path / "t")
    tl.create(spark, path, base)  # cols: id, bucket, tag
    narrower = spark.range(5).select(F.col("id"), F.lit(1.5).alias("score"))
    tl.append(spark, path, narrower)
    m = tl._read_manifest(path, tl._list_snapshots(path)[-1])
    names = [f["name"] for f in _json.loads(m["schema"])["fields"]]
    assert set(names) == {"id", "bucket", "tag", "score"}
    cur = tl.read(spark, path)
    assert set(cur.columns) == {"id", "bucket", "tag", "score"}
    assert cur.filter(F.col("score").isNotNull()).count() == 5


def test_vacuum_age_gates_inflight_writer_garbage(spark, base, tmp_path):
    """vacuum must NOT sweep a young _staging dir or tmp manifest (it
    could belong to an in-flight writer); only ones older than the
    retention window are crashed-writer garbage (r6 advice)."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    staging = os.path.join(path, "_staging", "inflight")
    os.makedirs(staging)
    open(os.path.join(staging, "part-0.parquet"), "w").close()
    tmp_manifest = os.path.join(tl._log_dir(path), ".tmp-inflight.json")
    open(tmp_manifest, "w").close()
    tl.vacuum(spark, path, keep_last=1)  # default 24h retention
    assert os.path.isdir(staging) and os.path.exists(tmp_manifest)
    # age them past the window → swept
    old = time.time() - 100
    os.utime(staging, (old, old))
    os.utime(tmp_manifest, (old, old))
    tl.vacuum(spark, path, keep_last=1, orphan_retention_ms=50_000)
    assert not os.path.exists(staging) and not os.path.exists(tmp_manifest)


def test_conditional_put_commit_protocol(spark, base, tmp_path, monkeypatch):
    """The commit seam (CommitProtocol): the whole log runs unchanged on
    an object-store-style conditional PUT, and a lost PUT race raises
    CommitConflict (failure injection proving the conflict path)."""
    calls = {"n": 0}

    def put_if_absent(final_path, payload):
        calls["n"] += 1
        try:
            with open(final_path, "x") as f:  # exclusive-create = If-None-Match: *
                f.write(payload)
            return True
        except FileExistsError:
            return False

    monkeypatch.setattr(tl, "DEFAULT_COMMIT_PROTOCOL", tl.ConditionalPutCommit(put_if_absent))
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    tl.append(spark, path, base)
    assert tl.read(spark, path).count() == 20
    assert calls["n"] >= 2

    # inject a store whose PUT always loses the race
    monkeypatch.setattr(
        tl, "DEFAULT_COMMIT_PROTOCOL", tl.ConditionalPutCommit(lambda p, b: False)
    )
    with pytest.raises(tl.CommitConflict):
        tl.overwrite(spark, path, base)


def test_plan_scan_prunes_by_manifest_stats(spark, tmp_path):
    """Manifest-stats scan planning: appends with disjoint id ranges give
    per-file bounds; a point/range predicate must skip the provably
    non-matching files (driver-side, zero file opens) and read_where
    must equal the unpruned filter exactly."""
    path = str(tmp_path / "t")

    def mk(lo, hi, tag):
        return spark.range(lo, hi).select(
            F.col("id"), F.lit(tag).alias("tag"), (F.col("id") * 2).alias("v")
        )

    tl.create(spark, path, mk(0, 100, "a").coalesce(1))
    tl.append(spark, path, mk(100, 200, "b").coalesce(1))
    tl.append(spark, path, mk(200, 300, "c").coalesce(1))

    keep, skip = tl.plan_scan(path, [("id", ">=", 250)])
    assert len(skip) == 2 and len(keep) == 1
    got = tl.read_where(spark, path, [("id", ">=", 250)])
    want = tl.read(spark, path).filter("id >= 250")
    assert _rows(got) == _rows(want) and got.count() == 50

    # string bounds prune too
    keep, skip = tl.plan_scan(path, [("tag", "=", "b")])
    assert len(keep) == 1 and len(skip) == 2
    assert tl.read_where(spark, path, [("tag", "=", "b")]).count() == 100

    # conjunction that nothing satisfies: all files skipped, empty read
    keep, skip = tl.plan_scan(path, [("id", ">=", 250), ("id", "<", 100)])
    assert keep == []
    empty = tl.read_where(spark, path, [("id", ">=", 250), ("id", "<", 100)])
    assert empty.count() == 0 and set(empty.columns) == {"id", "tag", "v"}


def test_plan_scan_partition_values_prune(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base, partition_by=["bucket"])
    keep, skip = tl.plan_scan(path, [("bucket", "=", 1)])
    assert skip, "partition-value stats must prune sibling partitions"
    assert tl.read_where(spark, path, [("bucket", "=", 1)]).count() == 3


def test_delete_rows_rewrites_only_matching_files(spark, tmp_path):
    """File-granular COW DELETE: files whose bounds exclude the predicate
    carry into the new snapshot by REFERENCE (same path, no IO); only
    candidates are rewritten. Snapshot isolation still holds."""
    path = str(tmp_path / "t")
    df = lambda lo, hi: spark.range(lo, hi).select(F.col("id"))  # noqa: E731
    tl.create(spark, path, df(0, 100).coalesce(1))
    tl.append(spark, path, df(100, 200).coalesce(1))
    tl.append(spark, path, df(200, 300).coalesce(1))
    before = tl._read_manifest(path, tl._list_snapshots(path)[-1])

    s = tl.delete_rows(spark, path, [("id", ">=", 120), ("id", "<", 150)])
    after = tl._read_manifest(path, s)
    # the two non-overlapping files survive verbatim
    untouched = set(before["files"]) & set(after["files"])
    assert len(untouched) == 2
    assert after["rewritten_files"] == 1 and after["skipped_files"] == 2
    cur = tl.read(spark, path)
    assert cur.count() == 270
    assert cur.filter("id >= 120 AND id < 150").count() == 0
    # time travel still sees the rows
    assert tl.read(spark, path, snapshot=s - 1).count() == 300
    # untouched files kept their stats; new file got fresh stats
    assert all(f in after["file_stats"] for f in after["files"])

    # provably-no-match predicate: metadata-only no-op, no new snapshot
    assert tl.delete_rows(spark, path, [("id", ">=", 1000)]) == s
    assert tl._list_snapshots(path)[-1] == s


def test_delete_rows_without_stats_falls_back_to_full_rewrite(spark, base, tmp_path):
    """Legacy manifests (no file_stats) must still delete correctly —
    pruning degrades to 'rewrite everything', never to wrong rows."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    # simulate a legacy manifest: strip the stats and republish as snap 1
    m = tl._read_manifest(path, 0)
    m.pop("file_stats", None)
    tl._commit(path, 1, m)
    s = tl.delete_rows(spark, path, [("id", "<", 3)])
    assert tl.read(spark, path, snapshot=s).count() == 7


def test_optimize_zorder_improves_scan_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER: same rows, new layout — after the rewrite the
    manifest bounds are tight on BOTH clustered columns, so plan_scan
    skips files for predicates on either, where the random layout
    skipped none."""
    path = str(tmp_path / "t")
    # random-ish layout: x and y uncorrelated with file placement
    df = spark.range(4096).select(
        F.col("id"),
        (F.hash(F.col("id")) % 1000).alias("x"),
        (F.hash(F.col("id") + 7) % 1000).alias("y"),
    )
    tl.create(spark, path, df.repartition(8))
    pred_x = [("x", ">=", 400), ("x", "<", 500)]
    pred_y = [("y", ">=", 400), ("y", "<", 500)]
    _, skip_x0 = tl.plan_scan(path, pred_x)
    _, skip_y0 = tl.plan_scan(path, pred_y)
    assert not skip_x0 and not skip_y0  # every random file spans ~full range

    s = tl.optimize_zorder(spark, path, ["x", "y"], target_files=8)
    _, skip_x1 = tl.plan_scan(path, pred_x)
    _, skip_y1 = tl.plan_scan(path, pred_y)
    assert skip_x1 and skip_y1, "z-order must enable pruning on both dims"
    # identical rows, and the pruned read agrees with the full filter
    assert tl.read(spark, path).count() == 4096
    got = tl.read_where(spark, path, pred_x)
    want = tl.read(spark, path).filter("x >= 400 AND x < 500")
    assert _rows(got.select("id")) == _rows(want.select("id"))
    # pre-optimize snapshot still time-travels
    assert tl.read(spark, path, snapshot=s - 1).count() == 4096
    assert tl.history(path)[-1]["operation"] == "optimize_zorder"


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate evaluates NULL
    survive — including rows from pre-schema-evolution files where the
    predicate column doesn't exist (reads back as null). A bare
    NOT(pred) filter silently deleted them (caught r7)."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(5).select("id"))
    tl.append(
        spark, path,
        spark.range(5, 10).select("id", (F.col("id") * 1.0).alias("score")),
    )
    # delete_where: score >= 7.0 — the 5 old rows have score NULL
    s = tl.delete_where(spark, path, "score >= 7.0")
    cur = tl.read(spark, path, snapshot=s)
    assert cur.count() == 7  # 5 null-score + scores 5.0/6.0 survive
    assert cur.filter("score IS NULL").count() == 5
    # delete_rows (file-granular) under the same semantics
    s2 = tl.delete_rows(spark, path, [("score", "<=", 5.0)])
    cur2 = tl.read(spark, path, snapshot=s2)
    assert cur2.count() == 6
    assert cur2.filter("score IS NULL").count() == 5


def test_plan_scan_timestamp_bounds_prune(spark, tmp_path):
    """Temporal stats: timestamp bounds are recorded as portable epoch
    ints and prune files for datetime predicates — with a 26h
    conservative pad (session-TZ interpretation is invisible to the
    metadata layer), so only files >1 day away from the predicate are
    skipped; read_where equals the unpruned filter."""
    import datetime as dt

    path = str(tmp_path / "t")

    def day(d):
        return spark.range(100).select(
            "id",
            (
                F.lit(f"2025-03-{d:02d} 00:00:00").cast("timestamp")
                + F.make_interval(mins=F.col("id").cast("int"))
            ).alias("ts"),
        )

    tl.create(spark, path, day(1).coalesce(1))
    for d in (5, 10, 15):
        tl.append(spark, path, day(d).coalesce(1))
    cut = dt.datetime(2025, 3, 12)
    keep, skip = tl.plan_scan(path, [("ts", ">=", cut)])
    # files for Mar 1/5/10 end >1 day before the cut → skipped; Mar 15 kept
    assert len(keep) == 1 and len(skip) == 3
    got = tl.read_where(spark, path, [("ts", ">=", cut)])
    want = tl.read(spark, path).filter(F.col("ts") >= F.lit("2025-03-12").cast("timestamp"))
    assert _rows(got) == _rows(want) and got.count() == 100


def test_plan_scan_pruning_soundness_property(spark, tmp_path):
    """Property: for random per-file integer ranges and random simple
    conjunctions, a file plan_scan skips NEVER contains a matching row —
    read_where must equal read().filter(...) exactly. (Deterministic
    seeded sweep rather than hypothesis-over-Spark: each case costs two
    jobs, so we bound the count.)"""
    import random

    rng = random.Random(0xC0FFEE)
    path = str(tmp_path / "t")
    ranges = [(rng.randrange(0, 500), rng.randrange(1, 200)) for _ in range(4)]
    dfs = [
        spark.range(lo, lo + n).select(
            F.col("id"), (F.col("id") % 7).alias("m")
        ).coalesce(1)
        for lo, n in ranges
    ]
    tl.create(spark, path, dfs[0])
    for d in dfs[1:]:
        tl.append(spark, path, d)
    full = tl.read(spark, path)
    ops = ["=", "<", "<=", ">", ">="]
    for _ in range(12):
        where = [
            ("id", rng.choice(ops), rng.randrange(-50, 800))
        ] + ([("m", rng.choice(ops), rng.randrange(0, 7))] if rng.random() < 0.5 else [])
        got = sorted(tuple(r) for r in tl.read_where(spark, path, where).collect())
        want = sorted(tuple(r) for r in full.filter(tl._where_sql(where)).collect())
        assert got == want, where


def test_nan_bounds_never_prune(spark, tmp_path):
    """ADVICE r7 (table_log.py _may_match): parquet-mr propagates NaN
    into double min/max stats, and every NaN comparison is False — so a
    file whose double column contains NaN must be treated as having NO
    stats for that column, never pruned. Regression: before the fix,
    read_where dropped the NaN file's matching rows and delete_rows
    silently failed to delete them."""
    path = str(tmp_path / "t")
    clean = spark.range(3).select(F.col("id"), (F.col("id") * 1.0).alias("x"))
    dirty = spark.range(10, 13).select(
        F.col("id"),
        F.when(F.col("id") == 11, F.lit(float("nan"))).otherwise(F.col("id") * 1.0).alias("x"),
    )
    tl.create(spark, path, clean.coalesce(1))
    tl.append(spark, path, dirty.coalesce(1))
    stats = tl._read_manifest(path, 1)["file_stats"]
    # r9: NaN now poisons the column at COLLECTION time (it must — NaN
    # surviving into the cross-row-group min/max aggregation yields
    # finite file bounds that wrongly prune), so the dirty file carries
    # NO x stats at all; the clean file still does.
    per_file_has_x = sorted(bool(s.get("x")) for s in stats.values())
    assert per_file_has_x == [False, True], stats
    # legacy manifests written before the poisoning fix can still carry
    # NaN bounds — the _may_match guard must keep such files too
    assert tl._may_match({"x": [float("nan"), float("nan"), 0]},
                         [("x", ">=", 10.0)]) is True
    # all 3 dirty rows match x >= 10 row-level: Spark SQL orders NaN
    # GREATER than every double (unlike the Java min/max that wrote the
    # stats) — one more reason the metadata layer must not trust NaN
    # bounds, since engine and stats semantics disagree.
    got = tl.read_where(spark, path, [("x", ">=", 10.0)])
    assert got.count() == 3
    keep, skip = tl.plan_scan(path, [("x", ">=", 10.0)])
    assert len(keep) >= 1  # NaN-bounds file kept as a candidate
    tl.delete_rows(spark, path, [("x", ">=", 10.0)])
    remaining = tl.read(spark, path)
    assert remaining.filter("id >= 10").count() == 0
    assert remaining.count() == 3  # only the clean file's rows survive


def test_tz_aware_predicate_literal_is_utc_normalized(spark, tmp_path):
    """ADVICE r7 (table_log.py _where_sql): a tz-aware datetime predicate
    must filter at the same instant regardless of its offset — strftime
    on the aware value would drop the offset and select a shifted set.
    Session TZ is pinned UTC, so UTC+2 10:00 == UTC 08:00."""
    import datetime as dt

    path = str(tmp_path / "t")
    df = spark.range(24).select(
        "id",
        (
            F.lit("2025-06-01 00:00:00").cast("timestamp")
            + F.make_interval(hours=F.col("id").cast("int"))
        ).alias("ts"),
    )
    tl.create(spark, path, df.coalesce(1))
    cut_utc = dt.datetime(2025, 6, 1, 8, 0, 0)
    cut_aware = dt.datetime(2025, 6, 1, 10, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=2)))
    got_aware = tl.read_where(spark, path, [("ts", ">=", cut_aware)])
    got_naive = tl.read_where(spark, path, [("ts", ">=", cut_utc)])
    assert _rows(got_aware) == _rows(got_naive)
    assert got_aware.count() == 16  # hours 08..23
    # delete path goes through the same literal
    tl.delete_rows(spark, path, [("ts", ">=", cut_aware)])
    assert tl.read(spark, path).count() == 8


# --- r9 review-finding regressions (scan-planning soundness + vacuum) ------


def test_predicate_on_column_absent_from_candidate_files(spark, tmp_path):
    """Schema evolution + pruning: when every candidate/touched file
    predates the predicate column, read_where/delete_rows must treat the
    predicate as NULL (rows survive a DELETE, match nothing on read) —
    not crash with UNRESOLVED_COLUMN."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.createDataFrame([(1,), (2,)], "id long"))
    tl.append(
        spark, path,
        spark.createDataFrame([(3, 15.0), (4, 12.0)], "id long, x double"),
    )
    # x in the only x-bearing files is >= 12, so bounds prune them for
    # x < 5 and the touched set is exactly the legacy no-x file
    got = tl.read_where(spark, path, [("x", "<", 5.0)])
    want = tl.read(spark, path).filter("x < 5.0")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    snap = tl.delete_rows(spark, path, [("x", "<", 5.0)])
    assert {r["id"] for r in tl.read(spark, path, snap).collect()} == {1, 2, 3, 4}


def test_nan_in_later_row_group_poisons_file_bounds(spark, tmp_path):
    """Cross-row-group stats aggregation must treat a NaN bound in ANY
    row group as poisoning the whole column (Python min/max are
    order-dependent with NaN): finite aggregated bounds would wrongly
    prune a file whose NaN rows satisfy x >= 10 under Spark's ordering.
    Forces a multi-row-group file with NaN only in a LATE group via a
    tiny parquet block size."""
    out = str(tmp_path / "multi_rg")
    n = 200_000
    (
        spark.range(n)
        .select(
            "id",
            F.when(F.col("id") == n - 1, F.lit(float("nan")))
            .otherwise(F.col("id") * 1.0)
            .alias("x"),
        )
        .coalesce(1)
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(out)
    )
    import glob as _glob

    import pyarrow.parquet as pq

    fp = _glob.glob(f"{out}/part-*.parquet")[0]
    meta = pq.ParquetFile(fp).metadata
    assert meta.num_row_groups > 1, "fixture must span multiple row groups"
    # NaN must land in the LAST group only (ids are written in order)
    stats = tl._file_column_stats(fp)
    assert "x" not in stats  # poisoned despite earlier finite groups
    assert "id" in stats  # untouched columns keep their bounds
    assert tl._may_match(stats, [("x", ">=", float(n))]) is True


def test_partition_value_with_escaped_chars_not_pruned(spark, tmp_path):
    """Spark hive-escapes ':' (and '=', '%', …) in partition path
    segments; partition 'stats' must compare UNESCAPED values or an
    equality predicate on such a value prunes its own files."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("12:30", 1), ("13:45", 2)], "slot string, v int"
    )
    tl.create(spark, path, df, partition_by=["slot"])
    got = tl.read_where(spark, path, [("slot", "=", "12:30")])
    assert [r["v"] for r in got.collect()] == [1]
    keep, skip = tl.plan_scan(path, [("slot", "=", "12:30")])
    assert keep and skip  # the other partition IS pruned


def test_datetime_predicate_on_date_column_is_sound(spark, tmp_path):
    """datetime is a date subclass: truncating a datetime predicate to a
    date ordinal made '<' pruning drop rows Spark's row-level cast
    semantics keep (DATE column casts to midnight TIMESTAMP)."""
    import datetime as dt

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 16), 1), (dt.date(2024, 1, 20), 2)], "d date, v int"
    )
    tl.create(spark, path, df)
    cut = dt.datetime(2024, 1, 16, 5, 0)
    got = tl.read_where(spark, path, [("d", "<", cut)])
    # reference literal as a SQL wall-time string: a naive predicate
    # names a SESSION-zone wall time (the read_where contract), but
    # F.lit(naive datetime) converts through the PYTHON process's local
    # zone — under TZ=Pacific/Chatham (+13:45) that names an instant
    # 13h45 earlier than the session (UTC) wall time and the reference
    # itself flips to [] (r10: the 6th TZ-fragile test assertion; engine
    # path unaffected)
    want = tl.read(spark, path).filter(
        F.col("d") < F.expr("TIMESTAMP '2024-01-16 05:00:00'")
    )
    assert sorted(r["v"] for r in got.collect()) == sorted(
        r["v"] for r in want.collect()
    ) == [1]


def test_tz_aware_literal_is_session_zone_independent():
    """A tz-aware predicate names an instant: the rendered literal must
    be epoch-based (timestamp_micros), not a naive wall string the
    session zone would re-interpret."""
    import datetime as dt

    aware = dt.datetime(2024, 1, 1, 12, 0, tzinfo=dt.timezone.utc)
    sql = tl._where_sql([("ts", "<", aware)])
    assert "timestamp_micros(1704110400000000)" in sql
    naive = dt.datetime(2024, 1, 1, 12, 0)
    assert "TIMESTAMP '2024-01-01 12:00:00" in tl._where_sql([("ts", "<", naive)])


def test_vacuum_sweeps_aged_orphan_data_files(spark, tmp_path):
    """Data files renamed into data/ by a writer that never committed
    (lost every commit race / crashed pre-commit) must eventually be
    reclaimed — age-gated so a live writer's just-renamed files are
    never touched."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.createDataFrame([(1,)], "id long"))
    tl.append(spark, path, spark.createDataFrame([(2,)], "id long"))
    old_orphan = os.path.join(tl._data_dir(path), "deadbeef-orphan.parquet")
    young_orphan = os.path.join(tl._data_dir(path), "cafebabe-orphan.parquet")
    for p in (old_orphan, young_orphan):
        with open(p, "wb") as f:
            f.write(b"not really parquet")
    os.utime(old_orphan, (time.time() - 90000, time.time() - 90000))  # >24h old
    deleted = tl.vacuum(spark, path, keep_last=1)
    assert os.path.relpath(old_orphan, path) in deleted
    assert not os.path.exists(old_orphan)
    assert os.path.exists(young_orphan)  # in-flight writer protected
    # referenced files untouched, table still reads
    assert tl.read(spark, path).count() == 2


def test_epoch_micros_exact_integer_arithmetic():
    """r9 ADVICE: the float total_seconds() path can misname the
    neighboring microsecond near 2^31+ epoch seconds (ulp ~0.48us), and
    the row-level timestamp filter has no pad to absorb it. The exact
    timedelta floor-division must agree with component arithmetic for
    values the float path provably gets wrong (2^33s + 1us was off by
    1us under the old formula)."""
    import datetime as dt

    epoch = dt.datetime(1970, 1, 1)
    for secs, us in [(2**31, 3), (2**33, 1), (2**33, 999999), (0, 1), (123, 456789)]:
        v = epoch + dt.timedelta(seconds=secs, microseconds=us)
        assert tl._epoch_micros(v) == secs * 1_000_000 + us
    # aware values anchor at the UTC epoch
    aware = dt.datetime(2242, 3, 16, 12, 56, 32, 3, tzinfo=dt.timezone.utc)
    naive = aware.replace(tzinfo=None)
    assert tl._epoch_micros(aware) == tl._epoch_micros(naive)


def test_table_changes_incremental_tail(spark, base, tmp_path):
    """table_changes: the append-only incremental read a downstream
    consumer tails the table with (Delta streaming-source semantics)."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    # from -1: the create is the first append
    df, hw = tl.table_changes(spark, path, -1)
    assert hw == 0 and df.count() == 10
    # nothing new: empty batch, same high water
    df, hw2 = tl.table_changes(spark, path, hw)
    assert hw2 == hw and df.count() == 0
    # two appends land; only their rows are emitted
    more1 = spark.range(10, 13).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v2").alias("tag"))
    more2 = spark.range(13, 15).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v3").alias("tag"))
    tl.append(spark, path, more1)
    tl.append(spark, path, more2)
    df, hw3 = tl.table_changes(spark, path, hw)
    assert hw3 == 2 and sorted(r["id"] for r in df.collect()) == list(range(10, 15))
    # checkpoint composes: next call from hw3 is empty
    assert tl.table_changes(spark, path, hw3)[0].count() == 0


def test_table_changes_rejects_rewrites_unless_ignored(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    hw = 0
    tl.delete_where(spark, path, "id >= 8")
    with pytest.raises(ValueError, match="rewrote or deleted"):
        tl.table_changes(spark, path, hw)
    # ignore_rewrites skips the delete (no retraction) but later appends flow
    more = spark.range(20, 22).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v2").alias("tag"))
    tl.append(spark, path, more)
    df, hw2 = tl.table_changes(spark, path, hw, ignore_rewrites=True)
    assert sorted(r["id"] for r in df.collect()) == [20, 21]
    assert hw2 == 2
    # MoR delete is a row change too, even though files are untouched
    tl.delete_rows_mor(spark, path, [("id", "=", 0)])
    with pytest.raises(ValueError, match="delete-mor"):
        tl.table_changes(spark, path, hw2)


def test_table_changes_reads_under_latest_contract(spark, base, tmp_path):
    """An alter in the range is metadata-only for the stream, and the
    emitted rows (including pre-alter appends) read under the latest
    schema — a consumer never sees two contracts in one batch."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    more = spark.range(10, 12).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v2").alias("tag"))
    tl.append(spark, path, more)           # snapshot 1 (pre-rename files)
    tl.rename_column(path, "bucket", "b")  # snapshot 2, metadata-only
    df, hw = tl.table_changes(spark, path, 0)
    assert hw == 2 and "b" in df.columns and "bucket" not in df.columns
    assert sorted((r["id"], r["b"]) for r in df.collect()) == [
        (10, 1), (11, 2)
    ]


def test_table_changes_expired_history_raises(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    for i in range(3):
        more = spark.range(100 + i, 101 + i).select(
            F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("x").alias("tag"))
        tl.append(spark, path, more)
    tl.vacuum(spark, path, keep_last=1, orphan_retention_ms=0)
    with pytest.raises(ValueError, match="history expired"):
        tl.table_changes(spark, path, 0)


def test_sync_increment_exactly_once_pipeline(spark, base, tmp_path, commit_protocol):
    """sync_increment: table-to-table incremental step whose checkpoint
    is the destination's idempotent txn map — crash/replay safe with no
    side state, over both commit protocols."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tl.create(spark, src, base)

    def xf(df):
        return df.filter("bucket = 0").select("id", "tag")

    n, hw = tl.sync_increment(spark, src, dst, transform=xf)
    assert (n, hw) == (4, 0)  # ids 0,3,6,9
    assert sorted(r["id"] for r in tl.read(spark, dst).collect()) == [0, 3, 6, 9]
    # replay of the same step is a no-op (idempotent txn), not a dup
    n2, hw2 = tl.sync_increment(spark, src, dst, transform=xf)
    assert (n2, hw2) == (0, 0)
    assert tl.read(spark, dst).count() == 4
    # new source appends flow through; only the delta is read
    more = spark.range(10, 16).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v2").alias("tag"))
    tl.append(spark, src, more)
    n3, hw3 = tl.sync_increment(spark, src, dst, transform=xf)
    assert (n3, hw3) == (2, 1)  # ids 12, 15
    assert sorted(r["id"] for r in tl.read(spark, dst).collect()) == [0, 3, 6, 9, 12, 15]
    # replay again after the second step: still a no-op
    assert tl.sync_increment(spark, src, dst, transform=xf)[0] == 0
    # a rewrite upstream surfaces instead of silently corrupting the sync
    tl.delete_where(spark, src, "id = 0")
    with pytest.raises(ValueError, match="rewrote or deleted"):
        tl.sync_increment(spark, src, dst, transform=xf)


def test_sync_increment_first_sync_crash_replay(spark, base, tmp_path):
    """A crash between the empty-seed create and the txn append replays
    into exactly-once delivery (the seed carries no rows)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tl.create(spark, src, base)
    # simulate the crash: seed exists, txn append never landed
    tl.create(spark, dst, spark.createDataFrame([], tl.read(spark, src).schema))
    n, hw = tl.sync_increment(spark, src, dst)
    assert (n, hw) == (10, 0)
    assert tl.read(spark, dst).count() == 10
    assert tl.sync_increment(spark, src, dst)[0] == 0  # and replay-safe


def test_compact_small_files_bin_packing(spark, base, tmp_path):
    """Size-targeted OPTIMIZE (r11): only sub-target files rewrite,
    per partition dir; well-sized files carry by reference — the
    maintenance shape that never rewrites the already-compacted bulk."""
    import os

    path = str(tmp_path / "t")
    # one "big" file (5k rows) + four tiny micro-batch files
    tl.create(spark, path, spark.range(5000).select(
        "id", (F.col("id") % 3).alias("bucket"),
        F.lit("bulk").alias("tag")).coalesce(1))
    for i in range(4):
        tl.append(spark, path, spark.createDataFrame(
            [(10000 + i, 0, "tiny")],
            "id long, bucket long, tag string").coalesce(1))
    m0 = tl._read_manifest(path, tl._list_snapshots(path)[-1])
    big = [f for f in m0["files"]
           if os.path.getsize(os.path.join(path, f)) >= 10_000]
    n_small = len(m0["files"]) - len(big)
    assert n_small >= 4 and len(big) == 1
    s = tl.compact_small_files(spark, path, target_bytes=10_000)
    m = tl._read_manifest(path, s)
    # the big file carried BY REFERENCE (same rel path); tinies merged
    assert big[0] in m["files"]
    assert m["operation"] == "compact" and m["compacted_from"] == n_small
    assert len(m["files"]) == 2
    assert tl.read(spark, path).count() == 5004
    assert tl.count_rows(path) == 5004
    # rows identical, time travel intact
    assert sorted(r["id"] for r in tl.read(spark, path).collect())[-4:] == \
        [10000, 10001, 10002, 10003]
    assert tl.read(spark, path, snapshot=s - 1).count() == 5004
    # idempotent-ish: nothing small enough remains in groups >= 2 → no-op
    assert tl.compact_small_files(spark, path, target_bytes=10_000) == s
    # DV shedding (r11 review): vectors fully inert after the rewrite
    # are dropped from the manifest; vectors naming carried files stay
    tl.delete_rows_mor(spark, path, [("id", "=", 7)])       # big file
    tl.delete_rows_mor(spark, path, [("id", "=", 10001)])   # merged smalls
    tl.append(spark, path, spark.createDataFrame(
        [(10100, 0, "tiny")], "id long, bucket long, tag string").coalesce(1))
    s2 = tl.compact_small_files(spark, path, target_bytes=10_000)
    m2 = tl._read_manifest(path, s2)
    assert big[0] in m2["files"]
    assert len(m2["delete_vectors"]) == 1  # big's vector kept, other shed
    got = sorted(r["id"] for r in tl.read(spark, path).collect())
    assert 7 not in got and 10001 not in got and 10100 in got
    assert len(got) == 5003 == tl.count_rows(path)


def test_compact_small_files_partitioned_and_mor(spark, tmp_path):
    """Partition dirs never merge across; deletion vectors on rewritten
    smalls materialize, carried files keep theirs live."""
    import os

    path = str(tmp_path / "t")
    df = spark.range(8).select("id", (F.col("id") % 2).alias("pt"))
    tl.create(spark, path, df.coalesce(1), partition_by=["pt"])
    for i in range(2):  # two more tiny files per partition value
        tl.append(spark, path, spark.createDataFrame(
            [(100 + i, 0), (200 + i, 1)], "id long, pt long").coalesce(1))
    tl.delete_rows_mor(spark, path, [("id", "=", 100)])  # DV on a small
    tl.delete_rows_mor(spark, path, [("id", "=", 2)])    # DV on create file
    before = tl.count_rows(path)
    s = tl.compact_small_files(spark, path, target_bytes=10**6)
    m = tl._read_manifest(path, s)
    # every output file still lives under its pt= dir
    assert all("pt=" in f for f in m["files"])
    got = sorted(r["id"] for r in tl.read(spark, path).collect())
    assert 100 not in got and 2 not in got  # deletes survived the rewrite
    assert len(got) == before == tl.count_rows(path)
    # every file was rewritten → both vectors fully inert → SHED
    assert not m.get("delete_vectors")
    # single-file groups are left alone
    p2 = str(tmp_path / "single")
    tl.create(spark, p2, spark.range(3).coalesce(1).select("id"))
    assert tl.compact_small_files(spark, p2, target_bytes=10**6) == 0


def test_update_where_file_granular_cow(spark, base, tmp_path):
    """UPDATE ... SET ... WHERE (r11): file-granular copy-on-write like
    delete_rows — bounds-skipped files carry by reference, matching
    rows' columns replaced (cast back to the declared type), NULL
    predicates don't match, snapshots stay time-travelable."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)  # ids 0..9, bucket=id%3, tag='v1'
    tl.append(spark, path, spark.range(100, 105).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"),
        F.lit("v2").alias("tag")).coalesce(1))
    s = tl.update_where(spark, path, [("id", "<", 3)],
                        {"tag": "'patched'", "bucket": "bucket + 10"})
    got = {r["id"]: (r["bucket"], r["tag"]) for r in tl.read(spark, path).collect()}
    assert got[0] == (10, "patched") and got[2] == (12, "patched")
    assert got[3] == (0, "v1") and got[100] == (1, "v2")
    assert len(got) == 15
    # the second file (ids 100+) was provably unmatched: carried, not rewritten
    m = tl._read_manifest(path, s)
    assert m["operation"] == "update" and m["skipped_files"] >= 1
    # time travel: the pre-update snapshot is untouched
    pre = {r["id"]: r["tag"] for r in tl.read(spark, path, snapshot=s - 1).collect()}
    assert pre[0] == "v1"
    # no-match predicate: metadata no-op, same snapshot
    assert tl.update_where(spark, path, [("id", ">", 10**9)], {"tag": "'x'"}) == s
    # type contract: the SET expression casts back to the column's type
    assert dict(tl.read(spark, path).dtypes)["bucket"] == "bigint"
    # guards: unknown column, partition column
    with pytest.raises(ValueError, match="no column"):
        tl.update_where(spark, path, [("id", "<", 1)], {"nope": "1"})
    p2 = str(tmp_path / "p2")
    tl.create(spark, p2, base, partition_by=["bucket"])
    with pytest.raises(ValueError, match="partition column"):
        tl.update_where(spark, p2, [("id", "<", 1)], {"bucket": "0"})


def test_update_where_sets_evolved_column_on_pre_evolution_files(
    spark, base, tmp_path
):
    """Review regression (r11): SET on a column that NO touched file
    physically carries (it arrived via a later append's additive
    evolution) must still apply — the subset scan conforms to the full
    contract first. Before the fix the update silently skipped the
    column while committing a manifest that claimed set={extra: ...}."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)  # ids 0..9, no 'extra'
    tl.append(spark, path, spark.createDataFrame(
        [(100, 1, "v2", "E")],
        "id long, bucket long, tag string, extra string").coalesce(1))
    # bounds-prune to ONLY the pre-evolution file
    tl.update_where(spark, path, [("id", "<", 3)], {"extra": "'patched'"})
    got = {r["id"]: r["extra"] for r in tl.read(spark, path).collect()}
    assert got[0] == got[1] == got[2] == "patched"
    assert got[3] is None and got[100] == "E"


def test_update_where_respects_constraints_and_deletion_vectors(
    spark, base, tmp_path
):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    # UPDATE cannot smuggle a violating value past the CHECK choke point
    tl.add_constraint(path, "id_nonneg", "id", ">=", 0)
    with pytest.raises(ValueError, match="violated"):
        tl.update_where(spark, path, [("id", "=", 5)], {"id": "-1"})
    assert sorted(r["id"] for r in tl.read(spark, path).collect()) == list(range(10))
    tl.drop_constraint(path, "id_nonneg")
    # a rewrite reads THROUGH deletion vectors: MoR-deleted rows stay
    # deleted, never resurrected by the update's file rewrite
    tl.delete_rows_mor(spark, path, [("id", "=", 1)])
    s_up = tl.update_where(spark, path, [("id", "<", 3)], {"tag": "'u'"})
    got = {r["id"]: r["tag"] for r in tl.read(spark, path).collect()}
    assert 1 not in got and got[0] == "u" and got[2] == "u" and got[5] == "v1"
    # the append-only face treats the update as a rewrite (re-seed
    # contract); the CDF face REPRESENTS it via the _changes/ sidecar
    # (r12) — covered by test_table_changes_feed_represents_cow_update
    with pytest.raises(ValueError, match="rewrote"):
        tl.table_changes(spark, path, 0)
    feed, _hw = tl.table_changes_feed(spark, path, s_up - 1)
    types = {r["_change_type"] for r in feed.collect()}
    assert types == {"update_preimage", "update_postimage"}


def test_table_changes_feed_emits_inserts_and_delete_retractions(
    spark, base, tmp_path
):
    """r11 (VERDICT r10 item #3): the CDF face represents MoR deletes as
    _change_type='delete' retraction rows (Delta readChangeFeed parity)
    instead of raising/skipping — the gap where an ignore_rewrites
    consumer silently kept dead rows."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)  # snap 0: ids 0..9
    tl.append(spark, path, spark.range(10, 12).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"),
        F.lit("v2").alias("tag")))  # snap 1
    tl.delete_rows_mor(spark, path, [("id", "<", 2)])  # snap 2: DVs 0,1
    tl.append(spark, path, spark.range(12, 13).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"),
        F.lit("v3").alias("tag")))  # snap 3
    feed, hw = tl.table_changes_feed(spark, path, -1)
    assert hw == 3
    got = sorted((r["id"], r["_change_type"], r["_commit_snapshot"])
                 for r in feed.collect())
    ins = [(i, s) for i, t, s in got if t == "insert"]
    dels = [(i, s) for i, t, s in got if t == "delete"]
    # every append attributed to its committing snapshot; a row inserted
    # then deleted in-range emits BOTH events (replay-the-log semantics)
    assert ins == [(i, 0) for i in range(10)] + [(10, 1), (11, 1), (12, 3)]
    assert dels == [(0, 2), (1, 2)]
    # mid-range checkpoint: only later events
    feed2, hw2 = tl.table_changes_feed(spark, path, 1)
    got2 = sorted((r["id"], r["_change_type"]) for r in feed2.collect())
    assert hw2 == 3 and got2 == [(0, "delete"), (1, "delete"), (12, "insert")]
    # caught-up: empty feed with the CDF schema
    feed3, hw3 = tl.table_changes_feed(spark, path, 3)
    assert hw3 == 3 and feed3.count() == 0
    assert "_change_type" in feed3.columns
    # row-preserving maintenance is SKIPPED, not raised (r12): OPTIMIZE
    # must never break a CDC consumer — the rows compact materializes
    # were already retracted when their deletion vector committed
    tl.compact(spark, path, target_files=1)  # snap 4
    feed4, hw4 = tl.table_changes_feed(spark, path, 3)
    assert hw4 == 4 and feed4.count() == 0
    # sidecar-less rewrites (overwrite) remain unrepresentable
    tl.overwrite(spark, path, tl.read(spark, path).filter("id < 100"))
    with pytest.raises(ValueError, match="copy-on-write"):
        tl.table_changes_feed(spark, path, 4)
    feed5, hw5 = tl.table_changes_feed(spark, path, 4, ignore_rewrites=True)
    assert hw5 == 5 and feed5.count() == 0
    # two MoR deletes, a COW update and a COW delete in ONE range: every
    # retraction and sidecar row carries its own committing snapshot
    tl.delete_rows_mor(spark, path, [("id", "=", 2)])  # snap 6
    tl.update_where(spark, path, [("id", "=", 3)], {"tag": "'u'"})  # snap 7
    tl.delete_rows(spark, path, [("id", "=", 4)])  # snap 8
    tl.delete_rows_mor(spark, path, [("id", "=", 5)])  # snap 9
    feed6, hw6 = tl.table_changes_feed(spark, path, 5)
    assert hw6 == 9
    assert sorted((r["id"], r["_change_type"], r["_commit_snapshot"], r["tag"])
                  for r in feed6.collect()) == [
        (2, "delete", 6, "v1"),
        (3, "update_postimage", 7, "u"), (3, "update_preimage", 7, "v1"),
        (4, "delete", 8, "v1"),
        (5, "delete", 9, "v1"),
    ]


def test_table_changes_feed_latest_contract_and_collision_guard(
    spark, base, tmp_path
):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    tl.delete_rows_mor(spark, path, [("id", "=", 5)])
    tl.rename_column(path, "bucket", "b")
    feed, hw = tl.table_changes_feed(spark, path, -1)
    # retractions and inserts both read under the LATEST contract
    assert "b" in feed.columns and "bucket" not in feed.columns
    d = [r for r in feed.collect() if r["_change_type"] == "delete"]
    assert [(r["id"], r["b"]) for r in d] == [(5, 2)]
    # a user column in the CDF metadata namespace fails loudly
    p2 = str(tmp_path / "clash")
    tl.create(spark, p2, spark.range(2).select(
        F.col("id"), F.lit("x").alias("_change_type")))
    with pytest.raises(ValueError, match="_change_type"):
        tl.table_changes_feed(spark, p2, -1)


def test_sync_increment_cdf_apply_exactly_once(spark, base, tmp_path):
    """sync_increment(keys=...): the CDC apply — retractions become the
    MERGE delete branch on the destination, one atomic txn-stamped
    snapshot per step, crash/replay-safe (VERDICT r10 item #3 'Done'
    criterion)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tl.create(spark, src, base)  # ids 0..9
    # first step is pure inserts → lands as an APPEND (no rewrite paid)
    n, hw = tl.sync_increment(spark, src, dst, keys=["id"])
    assert (n, hw) == (10, 0)
    assert [h["operation"] for h in tl.history(dst)][-1] == "append"
    assert sorted(r["id"] for r in tl.read(spark, dst).collect()) == list(range(10))
    # replay: no-op
    assert tl.sync_increment(spark, src, dst, keys=["id"])[0] == 0
    # a MoR delete upstream retracts downstream via the MERGE branch
    tl.delete_rows_mor(spark, src, [("id", "<", 2)])
    n2, hw2 = tl.sync_increment(spark, src, dst, keys=["id"])
    assert n2 == 2 and hw2 == 1
    assert sorted(r["id"] for r in tl.read(spark, dst).collect()) == list(range(2, 10))
    assert [h["operation"] for h in tl.history(dst)][-1] == "merge"
    # replay of the merge step: skipped by the txn stamp, not re-applied
    assert tl.sync_increment(spark, src, dst, keys=["id"])[0] == 0
    assert tl.read(spark, dst).count() == 8
    # within-batch ordering: insert@s then delete@s' nets to absent;
    # delete@s then re-insert@s' nets to present
    tl.append(spark, src, spark.range(10, 12).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"),
        F.lit("v2").alias("tag")))                      # insert 10, 11
    tl.delete_rows_mor(spark, src, [("id", "=", 10)])    # ...then delete 10
    tl.delete_rows_mor(spark, src, [("id", "=", 5)])     # delete 5...
    tl.append(spark, src, spark.createDataFrame(
        [(5, 2, "reborn")], "id long, bucket long, tag string"))  # ...re-insert
    n3, _hw3 = tl.sync_increment(spark, src, dst, keys=["id"])
    got = {r["id"]: r["tag"] for r in tl.read(spark, dst).collect()}
    assert 10 not in got and 11 in got
    assert got[5] == "reborn"
    assert sorted(got) == [2, 3, 4, 5, 6, 7, 8, 9, 11]
    # destination state == replaying the full log from scratch
    dst2 = str(tmp_path / "dst2")
    tl.sync_increment(spark, src, dst2, keys=["id"])
    assert sorted(tuple(r) for r in tl.read(spark, dst2).collect()) == \
        sorted(tuple(r) for r in tl.read(spark, dst).collect())


def test_sync_cdf_apply_preserves_evolved_columns_with_deletes(
    spark, base, tmp_path
):
    """Review regression (r11): the CDC apply's MERGE path used to
    project inserts onto the DESTINATION's columns, so a source-evolved
    column survived only when the batch happened to contain no delete —
    batch composition must never decide schema. A batch carrying both
    an additive-evolution append and a retraction lands with the new
    column's values intact, the destination schema evolved, and the
    state equal to an independent full replay."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tl.create(spark, src, base)
    tl.sync_increment(spark, src, dst, keys=["id"])
    # one upstream range containing BOTH an evolving append and a delete
    tl.append(spark, src, spark.createDataFrame(
        [(100, 1, "v2", "E1")], "id long, bucket long, tag string, extra string"))
    tl.delete_rows_mor(spark, src, [("id", "=", 3)])
    n, _hw = tl.sync_increment(spark, src, dst, keys=["id"])
    assert n == 2  # 1 insert + 1 retraction
    got = tl.read(spark, dst)
    assert "extra" in got.columns
    vals = {r["id"]: r["extra"] for r in got.collect()}
    assert vals[100] == "E1"          # evolved value survived the MERGE
    assert 3 not in vals              # retraction applied
    assert set(vals) == {0, 1, 2, 4, 5, 6, 7, 8, 9, 100}
    assert all(v is None for k, v in vals.items() if k != 100)
    # a LATER append that itself lacks the evolved column still emits
    # under the full contract (the insert branch's subset scan must
    # null-fill what mergeSchema cannot see in the files it reads)
    tl.append(spark, src, spark.createDataFrame(
        [(101, 2, "v3")], "id long, bucket long, tag string"))
    tl.sync_increment(spark, src, dst, keys=["id"])
    vals = {r["id"]: r["extra"] for r in tl.read(spark, dst).collect()}
    assert 101 in vals and vals[101] is None and vals[100] == "E1"
    # table_changes (the append-only face) honors the same contract
    cdf, _ = tl.table_changes(spark, src, 1, ignore_rewrites=True)
    assert "extra" in cdf.columns
    # equal to replaying the whole log from scratch
    dst2 = str(tmp_path / "dst2")
    tl.sync_increment(spark, src, dst2, keys=["id"])
    assert sorted(tuple(r) for r in tl.read(spark, dst2).collect()) == \
        sorted(tuple(r) for r in tl.read(spark, dst).collect())


def test_tags_immutable_named_refs(spark, base, tmp_path, commit_protocol):
    """Snapshot tags: immutable named refs (Iceberg tags) whose
    immutability IS the commit protocol's put-if-absent — over both
    protocols — and whose snapshots vacuum must retain."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    more = spark.range(10, 12).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v2").alias("tag"))
    tl.append(spark, path, more)
    assert tl.tag(path, "train-run-7", snapshot=0) == 0
    assert tl.tag(path, "latest-blessed") == 1  # defaults to latest
    assert tl.tags(path) == {"train-run-7": 0, "latest-blessed": 1}
    # immutability: re-tagging the same name is a commit conflict
    with pytest.raises(tl.CommitConflict):
        tl.tag(path, "train-run-7", snapshot=1)
    assert tl.read_tag(spark, path, "train-run-7").count() == 10
    # vacuum keeps tagged snapshots alive past the retention cut
    tl.overwrite(spark, path, more)          # snapshot 2
    tl.vacuum(spark, path, keep_last=1, orphan_retention_ms=0)
    assert tl.read_tag(spark, path, "train-run-7").count() == 10  # survived
    assert tl.read_tag(spark, path, "latest-blessed").count() == 12
    # untagged snapshot 2 is the only other retained one
    assert set(tl._list_snapshots(path)) == {0, 1, 2}
    # drop the tag: the snapshot becomes expirable
    tl.delete_tag(path, "train-run-7")
    tl.delete_tag(path, "latest-blessed")
    tl.vacuum(spark, path, keep_last=1, orphan_retention_ms=0)
    assert tl.read(spark, path).count() == 2
    with pytest.raises(Exception):
        tl.read(spark, path, snapshot=0)
    with pytest.raises(ValueError, match="no tag"):
        tl.read_tag(spark, path, "train-run-7")


def test_count_rows_metadata_only(spark, base, tmp_path):
    """count_rows: exact COUNT(*) from manifest statistics alone —
    across appends, MoR deletion vectors (including stale entries for
    rewritten files), COW deletes, compaction, and time travel."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    assert tl.count_rows(path) == 10
    more = spark.range(10, 14).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v2").alias("tag"))
    tl.append(spark, path, more.coalesce(1))
    assert tl.count_rows(path) == 14 == tl.read(spark, path).count()
    # MoR delete: subtracted via the vectors, no scan
    tl.delete_rows_mor(spark, path, [("id", "<", 3)])
    assert tl.count_rows(path) == 11 == tl.read(spark, path).count()
    # COW delete rewrites some files; stale DV entries must not
    # double-subtract
    tl.delete_rows(spark, path, [("id", "=", 12)])
    assert tl.count_rows(path) == 10 == tl.read(spark, path).count()
    tl.compact(spark, path)
    assert tl.count_rows(path) == 10
    # time travel counts the historical snapshot
    assert tl.count_rows(path, snapshot=0) == 10
    assert tl.count_rows(path, snapshot=1) == 14


def test_describe_metadata_summary(spark, base, tmp_path):
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    tl.add_constraint(path, "id_nn", "id", "not_null")
    tl.rename_column(path, "bucket", "b")
    tl.tag(path, "v1")
    tl.append(spark, path, spark.range(10, 12).select(
        F.col("id"), (F.col("id") % 3).alias("b"), F.lit("v2").alias("tag")),
        txn=("w1", 5))
    d = tl.describe(path)
    assert d["n_rows"] == 12 and d["snapshots"] == 4
    assert ("b", "bigint") in d["columns"] and d["retired_names"] == ["bucket"]
    assert d["constraints"] == {"id_nn": ["id", "not_null"]}
    assert d["tags"] == {"v1": 2} and d["writers"] == {"w1": 5}
    assert d["schema_evolved"] is True and d["delete_vectors"] == 0


def test_write_audit_publish(spark, base, tmp_path, commit_protocol):
    """Iceberg's WAP pattern over the log: staged files are invisible
    until the publish commit, the audit reads exactly the staged rows,
    a rejected stage discards cleanly, and publish runs the full append
    protocol (constraints + idempotent txn) — over both commit
    protocols."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    tl.add_constraint(path, "id_nn", "id", "not_null")

    good = spark.range(10, 13).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"), F.lit("v2").alias("tag"))
    staged = tl.stage_append(spark, path, good)
    # WRITE: invisible to readers and to count_rows
    assert tl.read(spark, path).count() == 10
    assert tl.count_rows(path) == 10
    # AUDIT: sees exactly the staged rows
    assert sorted(r["id"] for r in tl.read_staged(spark, path, staged).collect()) \
        == [10, 11, 12]
    # PUBLISH: one atomic append; idempotent under txn replay
    s = tl.publish_staged(spark, path, staged, txn=("wap", 1))
    assert tl.read(spark, path).count() == 13
    assert tl.publish_staged(spark, path, staged, txn=("wap", 1)) == s  # replay no-op
    assert tl.read(spark, path).count() == 13

    # constraints gate the publish, not the stage
    bad = spark.createDataFrame(
        [(None, 0, "x")], "id long, bucket long, tag string")
    staged_bad = tl.stage_append(spark, path, bad)
    with pytest.raises(ValueError, match="id_nn.*violated"):
        tl.publish_staged(spark, path, staged_bad)
    assert tl.read(spark, path).count() == 13
    # rejected: discard removes the staged files
    import os
    tl.discard_staged(path, staged_bad)
    assert not any(os.path.exists(os.path.join(path, f))
                   for f in staged_bad["files"])
    assert tl.read(spark, path).count() == 13


def test_wap_guards_double_publish_and_discard(spark, base, tmp_path):
    """Regression (r10 review #5): a receipt must not publish twice
    without a txn (duplicate manifest references) nor discard after
    publish (unlinking committed data)."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    staged = tl.stage_append(
        spark, path,
        spark.range(10, 12).select(
            F.col("id"), (F.col("id") % 3).alias("bucket"),
            F.lit("v2").alias("tag")),
    )
    tl.publish_staged(spark, path, staged)
    with pytest.raises(ValueError, match="already referenced"):
        tl.publish_staged(spark, path, staged)
    with pytest.raises(ValueError, match="committed data"):
        tl.discard_staged(path, staged)
    assert tl.read(spark, path).count() == 12  # intact
    # r11 (r10 advice #4): the guard checks ALL retained manifests, not
    # just the latest — after a compaction rewrites the published files
    # out of the CURRENT set, a duplicate publish must still refuse
    # (re-committing them would duplicate rows and leave the re-published
    # files vacuumable once their snapshot is rewritten again), and a
    # discard must still refuse (the files back time-travelable history)
    tl.compact(spark, path, target_files=1)
    m_now = tl._read_manifest(path, tl._list_snapshots(path)[-1])
    assert not set(staged["files"]) & set(m_now["files"])  # rewritten away
    with pytest.raises(ValueError, match="already referenced"):
        tl.publish_staged(spark, path, staged)
    with pytest.raises(ValueError, match="committed data"):
        tl.discard_staged(path, staged)
    assert tl.read(spark, path).count() == 12  # still intact


def test_legacy_basename_deletion_vector_fails_loud(spark, base, tmp_path):
    """Regression (r10 review #2/legacy): a deletion vector keyed by
    file basename (the briefly-shipped format) is ambiguous across
    partitions — reads must fail loudly, never silently resurrect the
    deleted rows."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    snap = tl.delete_rows_mor(spark, path, [("id", "<", 2)])
    m = tl._read_manifest(path, snap)
    # rewrite the vector with basename keys (what the old code wrote)
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    dv_rel = m["delete_vectors"][0]
    dv_abs = os.path.join(path, dv_rel)
    t = pq.read_table(dv_abs)
    legacy = pa.table({
        "__fname": [v.rsplit("/", 1)[-1] for v in t.column("__fname").to_pylist()],
        "__ri": t.column("__ri"),
    })
    pq.write_table(legacy, dv_abs)
    with pytest.raises(Exception, match="basename"):
        tl.read(spark, path).collect()
    # r11 (r10 advice #3): the format("table_log") face must fail just
    # as loudly — silently skipping unmatched basename keys would
    # RESURRECT the deleted rows through the data-source read path
    from open_data_lakehouse_demo_spark.streaming import table_source as ts

    with pytest.raises(Exception, match="basename"):
        ts._deleted_positions(path, m)


def test_table_changes_feed_represents_cow_update(spark, tmp_path):
    """r12 (VERDICT #1, Delta _change_data parity): an update_where
    inside a tailed range emits its matched rows as update_preimage /
    update_postimage pairs from the _changes/ sidecar written at commit
    time — the feed no longer raises, and a CDC consumer applies the
    UPDATE without re-seeding."""
    path = str(tmp_path / "src")
    tl.create(spark, path, spark.range(6).select(
        "id", (F.col("id") * 10).alias("v"), F.lit("a").alias("tag")
    ).coalesce(1))
    s1 = tl.append(spark, path, spark.range(100, 103).select(
        "id", (F.col("id") * 10).alias("v"), F.lit("b").alias("tag")
    ).coalesce(1))
    s2 = tl.update_where(spark, path, [("id", "<", 3)],
                         {"v": "v + 1", "tag": "'u'"})
    feed, hw = tl.table_changes_feed(spark, path, s1)
    assert hw == s2
    rows = feed.collect()
    pre = {r["id"]: (r["v"], r["tag"]) for r in rows
           if r["_change_type"] == "update_preimage"}
    post = {r["id"]: (r["v"], r["tag"]) for r in rows
            if r["_change_type"] == "update_postimage"}
    assert pre == {0: (0, "a"), 1: (10, "a"), 2: (20, "a")}
    assert post == {0: (1, "u"), 1: (11, "u"), 2: (21, "u")}
    assert all(r["_commit_snapshot"] == s2 for r in rows)
    # a range spanning the append AND the update emits both
    full, _ = tl.table_changes_feed(spark, path, s1 - 1)
    by_type = {r["_change_type"] for r in full.collect()}
    assert by_type == {"insert", "update_preimage", "update_postimage"}
    # CDC apply: a mirror synced BEFORE the update converges to the
    # source state through the update pair — exactly-once, no re-seed
    mirror = str(tmp_path / "mirror")
    tl.sync_increment(spark, path, mirror, keys=["id"], writer_id="w")
    n, hw2 = tl.sync_increment(spark, path, mirror, keys=["id"], writer_id="w")
    assert n == 0 and hw2 == s2  # replay: nothing double-applied
    src_rows = {tuple(r) for r in tl.read(spark, path).select("id", "v", "tag").collect()}
    mir_rows = {tuple(r) for r in tl.read(spark, mirror).select("id", "v", "tag").collect()}
    assert mir_rows == src_rows
    # the no-match stats false positive: files rewritten, zero rows
    # matched -> sidecar recorded (possibly empty), feed emits nothing
    # new and does NOT raise
    s3 = tl.update_where(spark, path, [("id", "<", 0)], {"tag": "'x'"})
    if s3 != s2:  # only if stats couldn't prove no-match
        f2, _ = tl.table_changes_feed(spark, path, s2)
        assert f2.count() == 0


def test_table_changes_feed_represents_merge_upserts(spark, tmp_path):
    """r12: MERGE records its upsert pairs (update_preimage /
    update_postimage) and its inserts in the _changes/ sidecar; the
    feed represents it and a CDC mirror converges without re-seeding."""
    path = str(tmp_path / "src")
    tl.create(spark, path, spark.range(6).select(
        "id", (F.col("id") * 10).alias("v")).coalesce(1))
    s0 = tl._list_snapshots(path)[-1]
    src = spark.createDataFrame([(2, 777), (3, 888), (100, 999)],
                                "id long, v long")
    s1 = tl.merge(spark, path, src, on=["id"])
    feed, hw = tl.table_changes_feed(spark, path, s0)
    assert hw == s1
    got = sorted((r["id"], r["_change_type"], r["v"]) for r in feed.collect())
    assert got == [
        (2, "update_postimage", 777), (2, "update_preimage", 20),
        (3, "update_postimage", 888), (3, "update_preimage", 30),
        (100, "insert", 999),
    ]
    # append-only face still refuses (a merge is not an append)
    with pytest.raises(ValueError, match="rewrote"):
        tl.table_changes(spark, path, s0)
    # CDC mirror seeded BEFORE the merge converges through the feed
    mirror = str(tmp_path / "m")
    tl.create(spark, mirror, tl.read(spark, path, snapshot=s0))
    tl.sync_increment(spark, path, mirror, keys=["id"], writer_id="w")
    assert {tuple(r) for r in tl.read(spark, mirror).collect()} == \
        {tuple(r) for r in tl.read(spark, path).collect()}


def test_merge_rejects_lossy_source_type_mismatch(spark, tmp_path):
    """r12 review: sessions run ANSI-off, where cast() silently NULLs
    un-parseable values — merge casts source columns only along
    provably lossless widenings and raises on anything else, instead of
    committing corrupted values to the table AND the CDF sidecar."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(4).select(
        "id", F.col("id").cast("long").alias("v")).coalesce(1))
    # widening int -> long is implicit
    tl.merge(spark, path, spark.createDataFrame(
        [(2, 7), (9, 8)], "id long, v int"), on=["id"])
    got = {r["id"]: r["v"] for r in tl.read(spark, path).collect()}
    assert got[2] == 7 and got[9] == 8 and got[0] == 0
    # lossy string -> long raises, nothing committed
    before = tl._list_snapshots(path)[-1]
    with pytest.raises(ValueError, match="lossless widenings"):
        tl.merge(spark, path, spark.createDataFrame(
            [(2, "abc")], "id long, v string"), on=["id"])
    assert tl._list_snapshots(path)[-1] == before


def test_null_keyed_deletion_vector_entry_fails_loud(spark, tmp_path):
    """r12 review: a NULL __fname entry matches no file — it must fail
    like a basename key, not silently resurrect its deleted row."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(6).select(
        "id", F.lit("a").alias("tag")).coalesce(1))
    snap = tl.delete_rows_mor(spark, path, [("id", "<", 2)])
    m = tl._read_manifest(path, snap)
    dv_abs = os.path.join(path, m["delete_vectors"][0])
    t = pq.read_table(dv_abs)
    pq.write_table(pa.table({
        "__fname": t.column("__fname").to_pylist() + [None],
        "__ri": t.column("__ri").to_pylist() + [99],
    }), dv_abs)
    with pytest.raises(Exception, match="NULL keys are corruption"):
        tl.read(spark, path).collect()
    with pytest.raises(Exception, match="NULL keys are corruption"):
        tl.table_changes_feed(spark, path, snap - 1)


def test_merge_sidecar_single_evaluation_of_source(spark, tmp_path):
    """r12: a NON-DETERMINISTIC merge source (rand) must land the SAME
    values in the table and in the feed — the sidecar materializes the
    source once and the rewrite reuses it."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(4).select(
        "id", F.lit(0).cast("long").alias("v")).coalesce(1))
    s0 = tl._list_snapshots(path)[-1]
    src = spark.range(2, 6).select(
        "id", F.expr("cast(rand() * 1000000000 as bigint)").alias("v"))
    tl.merge(spark, path, src, on=["id"])
    table_vals = {r["id"]: r["v"] for r in tl.read(spark, path).collect()}
    feed, _ = tl.table_changes_feed(spark, path, s0)
    feed_vals = {r["id"]: r["v"] for r in feed.collect()
                 if r["_change_type"] in ("update_postimage", "insert")}
    assert set(feed_vals) == {2, 3, 4, 5}
    assert all(table_vals[k] == feed_vals[k] for k in feed_vals), \
        (table_vals, feed_vals)


def test_delete_where_sidecar_row_identity_single_evaluation(spark, tmp_path):
    """r12: delete_where (ARBITRARY SQL predicate) records its deleted
    rows in the sidecar keyed by (__fname, __ri) row identity and the
    rewrite anti-joins that materialized set — so even a
    NON-DETERMINISTIC predicate (rand) is evaluated once, and the
    feed's retractions are exactly the rows the table lost."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(100).select(
        "id", (F.col("id") % 10).alias("v")).coalesce(2))
    s0 = tl._list_snapshots(path)[-1]
    before = {r["id"] for r in tl.read(spark, path).collect()}
    tl.delete_where(spark, path, "rand(7) < 0.5")
    after = {r["id"] for r in tl.read(spark, path).collect()}
    lost = before - after
    feed, _ = tl.table_changes_feed(spark, path, s0)
    rows = feed.collect()
    assert {r["_change_type"] for r in rows} <= {"delete"}
    assert {r["id"] for r in rows} == lost
    assert 0 < len(lost) < 100  # the predicate actually split the table
    # deterministic predicate + NULL-survives semantics intact
    p2 = str(tmp_path / "p2")
    tl.create(spark, p2, spark.createDataFrame(
        [(1, 5), (2, None), (3, 50)], "id long, v long").coalesce(1))
    tl.delete_where(spark, p2, "v > 10")
    assert sorted(r["id"] for r in tl.read(spark, p2).collect()) == [1, 2]
    feed2, _ = tl.table_changes_feed(spark, p2, 0)
    assert [(r["id"], r["_change_type"]) for r in feed2.collect()] == \
        [(3, "delete")]


def test_chained_cdc_mirror_of_mirror_converges(spark, tmp_path):
    """r12: the CDC apply records its OWN downstream changes (insert /
    delete / update pre+post classified against the pinned target), so
    a mirror is itself CDC-consumable — the bronze -> silver -> gold
    chain. After every upstream op, two sync hops converge C to A."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    c = str(tmp_path / "c")
    tl.create(spark, a, spark.range(8).select(
        "id", (F.col("id") * 10).alias("v")).coalesce(1))

    def chain_and_check(step):
        tl.sync_increment(spark, a, b, keys=["id"], writer_id="ab")
        tl.sync_increment(spark, b, c, keys=["id"], writer_id="bc")
        sa = {tuple(r) for r in tl.read(spark, a).select("id", "v").collect()}
        sc = {tuple(r) for r in tl.read(spark, c).select("id", "v").collect()}
        assert sc == sa, f"step {step}: gold diverged from bronze"

    chain_and_check("seed")
    tl.update_where(spark, a, [("id", "<", 3)], {"v": "v + 1"})
    chain_and_check("update")
    tl.delete_rows_mor(spark, a, [("id", "=", 5)])
    chain_and_check("mor delete")
    tl.merge(spark, a, spark.createDataFrame(
        [(6, 999), (100, 111)], "id long, v long"), on=["id"])
    chain_and_check("merge")
    tl.delete_where(spark, a, "v >= 999")
    chain_and_check("delete_where")
    # replay safety holds across the chain
    n1, _ = tl.sync_increment(spark, a, b, keys=["id"], writer_id="ab")
    n2, _ = tl.sync_increment(spark, b, c, keys=["id"], writer_id="bc")
    assert n1 == 0 and n2 == 0


def test_maintenance_ops_are_invisible_to_all_tailing_faces(spark, tmp_path):
    """r12: compact / compact_small_files / optimize_zorder preserve
    every logical row — the append-only walk AND the change feed skip
    them (Delta's OPTIMIZE-is-invisible contract), so routine
    maintenance never breaks a downstream stream or CDC pipeline."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(6).select(
        "id", (F.col("id") * 10).alias("v")).coalesce(1))
    s0 = tl._list_snapshots(path)[-1]
    tl.append(spark, path, spark.range(10, 12).select(
        "id", (F.col("id") * 10).alias("v")).coalesce(1))
    tl.compact(spark, path, target_files=1)
    tl.optimize_zorder(spark, path, ["id"], target_files=1)
    tl.append(spark, path, spark.range(20, 21).select(
        "id", (F.col("id") * 10).alias("v")).coalesce(1))
    # append-only face: both appends flow, maintenance contributes nothing
    df, hw = tl.table_changes(spark, path, s0)
    assert sorted(r["id"] for r in df.collect()) == [10, 11, 20]
    # CDF face: same three inserts, nothing else
    feed, hw2 = tl.table_changes_feed(spark, path, s0)
    got = sorted((r["id"], r["_change_type"]) for r in feed.collect())
    assert got == [(10, "insert"), (11, "insert"), (20, "insert")]
    assert hw == hw2 == tl._list_snapshots(path)[-1]
    # MoR retractions still flow through a later compaction's shadow:
    # the retraction was attributed to the delete-mor snapshot itself
    s_pre = hw
    tl.delete_rows_mor(spark, path, [("id", "=", 4)])
    tl.compact_small_files(spark, path, target_bytes=10**6)
    feed2, _ = tl.table_changes_feed(spark, path, s_pre)
    assert [(r["id"], r["_change_type"]) for r in feed2.collect()] == \
        [(4, "delete")]


def test_update_sidecar_is_single_evaluation_of_set_exprs(spark, tmp_path):
    """r12 review: a NON-DETERMINISTIC SET expression (rand, uuid,
    current_timestamp) must produce the SAME values in the table and in
    the change feed — the rewrite reuses the sidecar's materialized
    postimages, so the expression is evaluated in exactly one job. The
    old two-scan design silently diverged a CDC mirror forever."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(6).select(
        "id", F.lit(0).alias("v")).coalesce(1))
    s0 = tl._list_snapshots(path)[-1]
    tl.update_where(spark, path, [("id", "<", 4)],
                    {"v": "cast(rand() * 1000000000 as bigint)"})
    table_vals = {r["id"]: r["v"] for r in tl.read(spark, path).collect()}
    feed, _ = tl.table_changes_feed(spark, path, s0)
    post_vals = {r["id"]: r["v"] for r in feed.collect()
                 if r["_change_type"] == "update_postimage"}
    assert set(post_vals) == {0, 1, 2, 3}
    assert all(table_vals[k] == post_vals[k] for k in post_vals), \
        (table_vals, post_vals)
    # and the CDC mirror converges despite the non-determinism
    mirror = str(tmp_path / "m")
    tl.sync_increment(spark, path, mirror, keys=["id"], writer_id="w")
    assert {tuple(r) for r in tl.read(spark, mirror).collect()} == \
        {tuple(r) for r in tl.read(spark, path).collect()}


def test_table_changes_feed_represents_cow_delete_rows(spark, tmp_path):
    """r12: file-granular COW delete_rows records its deleted rows in a
    _changes/ sidecar; the feed emits them as 'delete' retractions —
    same _change_type the MoR path uses, so consumers are agnostic to
    which delete strategy produced the retraction."""
    path = str(tmp_path / "src")
    tl.create(spark, path, spark.range(8).select(
        "id", F.lit("a").alias("tag")).coalesce(1))
    s0 = tl._list_snapshots(path)[-1]
    s1 = tl.delete_rows(spark, path, [("id", ">=", 5)])
    feed, hw = tl.table_changes_feed(spark, path, s0)
    assert hw == s1
    rows = feed.collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert sorted(r["id"] for r in rows) == [5, 6, 7]
    assert all(r["_commit_snapshot"] == s1 for r in rows)
    # CDC apply drops them downstream
    mirror = str(tmp_path / "mirror")
    tl.create(spark, mirror, tl.read(spark, path, snapshot=s0))
    tl._apply_changes(spark, mirror, feed, ["id"], ("w", s1))
    assert sorted(r["id"] for r in tl.read(spark, mirror).collect()) == \
        sorted(r["id"] for r in tl.read(spark, path).collect())


def test_apply_changes_skips_chained_sidecar_on_colliding_destination(
    spark, tmp_path
):
    """r12 review: the chained-CDC collision guard must check the
    DESTINATION's columns (data_cols excludes the CDF namespace by
    construction, so the old guard was dead code and a destination with
    its own '_change_type' column crashed on a duplicate-column sidecar
    write instead of skipping)."""
    dst = str(tmp_path / "dst")
    tl.create(spark, dst, spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, _change_type string").coalesce(1))
    batch = spark.createDataFrame(
        [(3, "insert", 5), (1, "delete", 5)],
        "id long, _change_type string, _commit_snapshot long")
    n = tl._apply_changes(spark, dst, batch, ["id"], ("w", 5))
    assert n == 2  # 1 insert + 1 delete applied
    m = tl._read_manifest(dst, tl._list_snapshots(dst)[-1])
    assert m["operation"] == "merge" and "change_data" not in m
    got = {r["id"] for r in tl.read(spark, dst).collect()}
    assert got == {2, 3}


def test_apply_changes_rejects_unknown_change_type(spark, tmp_path):
    """r12 ADVICE: a transform emitting an unrecognized _change_type
    must fail loudly — silently dropping those rows while the txn
    high-water advances would permanently skip data."""
    dst = str(tmp_path / "dst")
    batch = spark.createDataFrame(
        [(1, "upsert", 3), (2, "insert", 3)],
        "id long, _change_type string, _commit_snapshot long")
    with pytest.raises(ValueError, match="unrecognized _change_type"):
        tl._apply_changes(spark, dst, batch, ["id"], ("w", 3))
    null_batch = spark.createDataFrame(
        [(1, None, 3)], "id long, _change_type string, _commit_snapshot long")
    with pytest.raises(ValueError, match="unrecognized _change_type"):
        tl._apply_changes(spark, dst, null_batch, ["id"], ("w", 4))


def test_cdc_mirror_fuzz_update_interleavings(spark, tmp_path):
    """r12 (VERDICT #1 'done' criterion): feed-vs-table equivalence
    across random interleavings of append / MoR delete / COW delete /
    COW update — after every op an incremental CDC apply
    (sync_increment(keys=)) must converge the mirror to the source
    without ever re-seeding."""
    import random

    rnd = random.Random(20260816)
    src = str(tmp_path / "src")
    mirror = str(tmp_path / "mirror")
    tl.create(spark, src, spark.range(10).select(
        "id", (F.col("id") % 5).alias("v")).coalesce(1))
    next_id = 100

    def sync_and_check(step, op):
        tl.sync_increment(spark, src, mirror, keys=["id"], writer_id="w")
        s = {tuple(r) for r in tl.read(spark, src).select("id", "v").collect()}
        m = {tuple(r) for r in tl.read(spark, mirror).select("id", "v").collect()}
        assert m == s, f"step {step} op {op}: mirror diverged"

    for step in range(14):
        op = rnd.choice(["append", "mor", "cow_delete", "update", "update",
                         "merge", "compact"])
        if op == "append":
            n = rnd.randrange(1, 4)
            tl.append(spark, src, spark.range(next_id, next_id + n).select(
                "id", (F.col("id") % 5).alias("v")).coalesce(1))
            next_id += n
        elif op == "mor":
            tl.delete_rows_mor(spark, src, [("v", "=", rnd.randrange(5))])
        elif op == "cow_delete":
            tl.delete_rows(spark, src, [("v", "=", rnd.randrange(5))])
        elif op == "merge":
            # keys in [0, 50): never collide with append ids (>= 100),
            # so the source table keeps UNIQUE keys — the keyed-CDC
            # contract sync_increment(keys=) requires
            lo = rnd.randrange(0, 47)
            tl.merge(spark, src, spark.range(lo, lo + 3).select(
                "id", F.lit(step + 100).alias("v")), on=["id"])
        elif op == "compact":
            tl.compact_small_files(spark, src, target_bytes=10**6)
        else:
            tl.update_where(spark, src, [("v", "<", rnd.randrange(1, 5))],
                            {"v": f"v + {rnd.randrange(1, 3)}"})
        sync_and_check(step, op)


def test_table_changes_feed_retraction_join_plan(spark, tmp_path):
    """Plan pin: while deletion vectors are small (MoR's premise) the
    feed's retraction join broadcasts the DV side — no SortMergeJoin,
    no Cartesian. It is the plan's only join: the insert branch takes
    its snapshot from a literal map keyed by file, with no driver-built
    relation (ExistingRDD) to join. At 100 TB the retraction read
    touches only DV-named files with a broadcast join against kilobytes
    of positions."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(1000).select(
        "id", (F.col("id") % 7).alias("v")).coalesce(2))
    s0 = tl._list_snapshots(path)[-1]
    tl.append(spark, path, spark.range(2000, 2010).select(
        "id", (F.col("id") % 7).alias("v")).coalesce(1))
    tl.delete_rows_mor(spark, path, [("v", "=", 3)])
    feed, _ = tl.table_changes_feed(spark, path, s0)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    assert "ExistingRDD" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def _jobs(spark, group, action) -> int:
    """Spark jobs that ``action()`` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "count the jobs of one read")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_table_changes_feed_runs_no_more_jobs_than_table_changes(
    spark, base, tmp_path
):
    """Layer pin: on an append-only range the feed is a read like
    table_changes — its inserts take their snapshot from a literal, and
    its empty retraction and sidecar arms are empty local relations the
    optimizer drops — so it runs no more Spark jobs."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    tl.append(spark, path, base)

    def jobs(face):
        return _jobs(spark, f"feed-jobs-{face.__name__}",
                     lambda: face(spark, path, 0)[0].collect())

    assert jobs(tl.table_changes_feed) <= jobs(tl.table_changes)


def test_read_with_deletion_vectors_infers_no_schema(spark, base, tmp_path):
    """Layer pin: a read through deletion vectors takes their fixed
    schema (_DV_SCHEMA) instead of inferring it, which cost one Spark job
    on every such read. Two jobs remain: the broadcast of the vectors
    and the scan itself."""
    path = str(tmp_path / "t")
    tl.create(spark, path, base.coalesce(1))
    tl.delete_rows_mor(spark, path, [("id", "=", 3)])
    rows = []
    n = _jobs(spark, "dv-read-jobs",
              lambda: rows.extend(tl.read(spark, path).collect()))
    assert sorted(r["id"] for r in rows) == [i for i in range(10) if i != 3]
    assert n <= 2


def test_table_changes_feed_bulk_mor_delete_is_distributed(
    spark, tmp_path, monkeypatch
):
    """r12 (VERDICT #2): the feed's retraction path must never
    materialize deleted positions on the driver — a bulk MoR delete
    (10⁶ positions) flows worker-side via _dv_delta_df. Guard: any
    driver-process pyarrow content read of a _deletes/ sidecar explodes
    (r13 — stronger than the old _dv_entries monkeypatch, which is gone
    now that the data-source planner is distributed too; the feed's
    legitimate DV touches are JVM-side spark.read.parquet and
    os.path.getsize, neither of which trips this)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    n = 1_000_000
    tl.create(spark, path, spark.range(n).select(
        "id", (F.col("id") % 7).alias("v")).coalesce(4))
    s0 = tl._list_snapshots(path)[-1]
    s1 = tl.delete_rows_mor(spark, path, [("v", "<", 4)])

    real_read = pq.read_table

    def guard(source, *a, **k):
        if "_deletes" in str(source):
            raise AssertionError(
                "feed read DV content in the driver process"
            )
        return real_read(source, *a, **k)

    monkeypatch.setattr(pq, "read_table", guard)
    feed, hw = tl.table_changes_feed(spark, path, s0)
    assert hw == s1
    agg = feed.groupBy("_change_type").count().collect()
    by = {r["_change_type"]: r["count"] for r in agg}
    n_del = sum(n // 7 + (1 if i < n % 7 else 0) for i in range(4))
    assert by == {"delete": n_del}
    # spot-check: every retraction row carries the deleting snapshot
    sample = feed.limit(5).collect()
    assert all(r["_commit_snapshot"] == s1 for r in sample)
    # and the table itself agrees (plain read legitimately does a
    # bounded __fname-only key-validation pass driver-side — not under
    # the guard, which polices the FEED path above)
    monkeypatch.undo()
    assert tl.read(spark, path).count() == n - n_del


def test_vacuum_sweeps_change_data_sidecars(spark, tmp_path):
    """Change-data sidecars follow the data-file lifecycle: live while a
    retained manifest references them, age-gated orphans afterwards."""
    import os

    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(6).select(
        "id", F.lit("a").alias("tag")).coalesce(1))
    s = tl.update_where(spark, path, [("id", "<", 3)], {"tag": "'u'"})
    cd = tl._read_manifest(path, s)["change_data"]
    assert cd and all(os.path.exists(os.path.join(path, f)) for f in cd)
    # retained manifest references them: vacuum must keep them
    tl.vacuum(spark, path, keep_last=10, orphan_retention_ms=0)
    assert all(os.path.exists(os.path.join(path, f)) for f in cd)
    # expire the update snapshot's manifest: sidecars become orphans
    tl.append(spark, path, spark.range(50, 52).select(
        "id", F.lit("z").alias("tag")).coalesce(1))
    swept = tl.vacuum(spark, path, keep_last=1, orphan_retention_ms=0)
    assert set(cd) <= set(swept)
    assert not any(os.path.exists(os.path.join(path, f)) for f in cd)


def test_mixed_key_deletion_vector_fails_loud(spark, base, tmp_path):
    """r12 ADVICE: a MIXED-key vector (first entry a valid 'data/...'
    path, a later one a basename) used to slip past the one-entry peek
    — on the CDF path the basename entry joins no scanned file and the
    retraction silently vanishes. Every guard now checks every entry."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    tl.create(spark, path, base)
    snap = tl.delete_rows_mor(spark, path, [("id", "<", 2)])
    m = tl._read_manifest(path, snap)
    dv_abs = os.path.join(path, m["delete_vectors"][0])
    t = pq.read_table(dv_abs)
    names = t.column("__fname").to_pylist()
    ris = t.column("__ri").to_pylist()
    # valid 'data/...' first entry, corrupt basename-keyed tail entry
    mixed = names + [names[0].rsplit("/", 1)[-1]]
    pq.write_table(pa.table({"__fname": mixed, "__ri": ris + [99]}), dv_abs)
    with pytest.raises(Exception, match="basename"):
        tl.read(spark, path).collect()
    from open_data_lakehouse_demo_spark.streaming import table_source as ts

    # the CDF delete-part reader validates worker-side (r13: planning
    # no longer opens DV content, so the guard lives in _read_cdf_part)
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(m["schema"]))
    part = ts._FilePart(
        abs_path=dv_abs,
        fields=[(f.name, tl._phys_names(m, f.name)) for f in schema.fields],
        change_type="delete", commit_snapshot=snap, root=path,
    )
    cdf_schema = ts._arrow_schema(T.StructType(
        schema.fields + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_snapshot", T.LongType()),
        ]
    ))
    with pytest.raises(Exception, match="basename"):
        list(ts._read_cdf_part(part, cdf_schema))
    with pytest.raises(Exception, match="basename"):
        ts._deleted_positions(path, m)


def test_partial_cow_rewrites_shed_inert_deletion_vectors(spark, tmp_path):
    """r12 ADVICE: update_where and file-granular delete_rows used to
    carry EVERY prior deletion vector (plain _dv_carry), permanently
    ratcheting the per-read MoR anti-join even when the rewrite just
    materialized a vector's every entry. They now share
    compact_small_files' shed rule: vectors naming only rewritten files
    drop; vectors still naming a carried file stay live."""
    path = str(tmp_path / "t")
    # two files with disjoint id ranges so bounds-pruning is exact
    tl.create(spark, path, spark.range(0, 10).select(
        "id", F.lit("a").alias("tag")).coalesce(1))
    tl.append(spark, path, spark.range(100, 110).select(
        "id", F.lit("b").alias("tag")).coalesce(1))
    tl.delete_rows_mor(spark, path, [("id", "=", 3)])     # vector on file 1
    tl.delete_rows_mor(spark, path, [("id", "=", 105)])   # vector on file 2
    # UPDATE touches only file 1 → its vector materializes and is shed;
    # file 2's vector must survive (its delete is still merge-on-read)
    s = tl.update_where(spark, path, [("id", "<", 50)], {"tag": "'u'"})
    m = tl._read_manifest(path, s)
    assert len(m["delete_vectors"]) == 1
    got = {r["id"]: r["tag"] for r in tl.read(spark, path).collect()}
    assert 3 not in got and 105 not in got
    assert got[0] == "u" and got[100] == "b" and len(got) == 18
    # COW delete touches only file 2 → the remaining vector sheds too
    s2 = tl.delete_rows(spark, path, [("id", ">", 101)])
    m2 = tl._read_manifest(path, s2)
    assert not m2.get("delete_vectors")
    got2 = sorted(r["id"] for r in tl.read(spark, path).collect())
    assert got2 == [0, 1, 2, 4, 5, 6, 7, 8, 9, 100, 101]
