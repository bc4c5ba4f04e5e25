"""format("table_log") custom data source (streaming/table_source.py):
the Spark-native batch + streaming faces of the logged table format,
built on the Python DataSource API — the twin of the reference's
`spark.read.format("iceberg")` / streaming catalog reads
(lakehouse_part1_load_data.py:505-508, code/pyspark-job.py:121-131).

Pins: Arrow-batched per-file worker reads (never row-at-a-time), batch
reads match table_log.read() including time travel and schema-evolution
conform, streaming offsets are snapshot ids so Spark's checkpoint gives
exactly-once append consumption across restarts, and the Delta-style
failure contract (rewrite → stop unless ignoreRewrites; mid-stream
schema change → stop; vacuumed history → stop).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.sources import table_log as tl
from open_data_lakehouse_demo_spark.streaming import table_source as ts


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def registered(spark):
    ts.register(spark)
    return spark


@pytest.fixture()
def tbl(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(8).coalesce(1).select(
        F.col("id"), (F.col("id") * 10).cast("int").alias("v"),
        (F.col("id") % 2).cast("int").alias("pt"),
    )
    tl.create(spark, path, df, partition_by=["pt"])
    return path


_CODES = [(0, "01", 10), (1, "007", 20), (2, "1e3", 30)]


@pytest.mark.parametrize("face", [
    "read", "read_snapshot", "read_where_hit", "read_where_pruned",
    "plan_scan_string", "table_changes", "table_changes_feed", "format",
    "compact",
])
def test_string_partition_column_reads_as_declared(registered, spark, tmp_path, face):
    """A STRING partition column whose values look numeric ('01',
    '007', '1e3') reads back as the manifest declares it on every face:
    the manifest's column order (the partition column in the middle),
    type string, the exact values — no partition-type inference turning
    '01' into 1 — and a compaction keeps the files in the same hive
    directories."""
    path = str(tmp_path / "codes")
    schema = "id long, code string, v int"
    tl.create(spark, path, spark.createDataFrame(_CODES[:1], schema).coalesce(1),
              partition_by=["code"])
    tl.append(spark, path, spark.createDataFrame(_CODES[1:], schema).coalesce(1))
    want, cols = _CODES, ["id", "code", "v"]
    if face == "read":
        df = tl.read(spark, path)
    elif face == "read_snapshot":
        df, want = tl.read(spark, path, snapshot=0), _CODES[:1]
    elif face == "read_where_hit":
        df, want = tl.read_where(spark, path, [("code", "=", "007")]), _CODES[1:2]
    elif face == "read_where_pruned":
        assert tl.plan_scan(path, [("v", ">", 100)])[0] == []
        df, want = tl.read_where(spark, path, [("v", ">", 100)]), []
    elif face == "plan_scan_string":
        # the partition stats keep the declared string type, so a string
        # predicate prunes (numeric bounds [7, 7] would keep every file)
        keep, _skip = tl.plan_scan(path, [("code", "=", "007")])
        assert [f.split("/")[1] for f in keep] == ["code=007"]
        df, want = tl.read_where(spark, path, [("code", "=", "007")]), _CODES[1:2]
    elif face == "table_changes":
        df = tl.table_changes(spark, path, -1)[0]
    elif face == "table_changes_feed":
        df = tl.table_changes_feed(spark, path, -1)[0]
        cols = cols + ["_change_type", "_commit_snapshot"]
        want = [(*r, "insert", s) for r, s in zip(_CODES, (0, 1, 1))]
    elif face == "format":
        df = spark.read.format("table_log").option("path", path).load()
    else:
        tl.compact(spark, path, target_files=1)
        df = tl.read(spark, path)
        m = tl._read_manifest(path, tl._list_snapshots(path)[-1])
        assert m["operation"] == "compact"
        assert {f.split("/")[1] for f in m["files"]} == {
            "code=01", "code=007", "code=1e3"}
    assert df.columns == cols
    assert dict(df.dtypes)["code"] == "string"
    assert _rows(df) == sorted(want)


def _drain(spark, path, out, ck, **opts):
    sdf = spark.readStream.format("table_log").option("path", path)
    for k, v in opts.items():
        sdf = sdf.option(k, v)
    q = (
        sdf.load().writeStream.format("parquet").option("path", out)
        .trigger(availableNow=True).option("checkpointLocation", ck).start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out)


def test_batch_read_matches_native_read(registered, tbl, spark):
    got = spark.read.format("table_log").option("path", tbl).load()
    assert _rows(got) == _rows(tl.read(spark, tbl))
    # partition column came from the hive path, typed per the schema
    assert dict(got.dtypes)["pt"] == "int"


def test_batch_read_time_travel_and_conform(registered, tbl, spark):
    tl.rename_column(tbl, "v", "value")
    tl.append(
        spark, tbl,
        spark.createDataFrame([(100, 1000, 0)], "id long, value int, pt int")
        .coalesce(1),
    )
    got = spark.read.format("table_log").option("path", tbl).load()
    assert _rows(got) == _rows(tl.read(spark, tbl))
    assert "value" in got.columns and "v" not in got.columns
    # time travel to the pre-rename snapshot restores the old contract
    old = (
        spark.read.format("table_log").option("path", tbl)
        .option("snapshot", "0").load()
    )
    assert "v" in old.columns and old.count() == 8


def test_batch_read_applies_deletion_vectors(registered, tbl, spark):
    """Merge-on-read through the format: the driver groups the
    snapshot's deletion vectors per file and each worker masks its own
    row positions — equivalent to table_log.read()'s engine-side
    anti-join."""
    tl.delete_rows_mor(spark, tbl, [("v", "<", 20)])
    got = spark.read.format("table_log").option("path", tbl).load()
    assert _rows(got) == _rows(tl.read(spark, tbl))
    assert got.count() == 6
    # accumulated vectors + time travel back to the pre-delete snapshot
    tl.delete_rows_mor(spark, tbl, [("v", "=", 70)])
    got = spark.read.format("table_log").option("path", tbl).load()
    assert _rows(got) == _rows(tl.read(spark, tbl)) and got.count() == 5
    pre = spark.read.format("table_log").option("path", tbl).option(
        "snapshot", "0"
    ).load()
    assert pre.count() == 8
    # compaction materializes; still equivalent
    tl.compact(spark, tbl, target_files=1)
    got = spark.read.format("table_log").option("path", tbl).load()
    assert got.count() == 5


def test_stream_exactly_once_across_restarts(registered, tbl, spark, tmp_path):
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    got = _drain(spark, tbl, out, ck)
    assert sorted(r["id"] for r in got.collect()) == list(range(8))
    # append → restart from the SAME checkpoint delivers only the delta
    tl.append(
        spark, tbl,
        spark.createDataFrame([(8, 80, 0), (9, 90, 1)], "id long, v int, pt int")
        .coalesce(1),
    )
    got = _drain(spark, tbl, out, ck)
    assert sorted(r["id"] for r in got.collect()) == list(range(10))
    # no new data → no duplicates
    got = _drain(spark, tbl, out, ck)
    assert got.count() == 10


def test_stream_stops_on_rewrite_unless_ignored(registered, tbl, spark, tmp_path):
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, tbl, out, ck)
    tl.delete_where(spark, tbl, "id = 0")
    tl.append(
        spark, tbl,
        spark.createDataFrame([(50, 500, 0)], "id long, v int, pt int").coalesce(1),
    )
    with pytest.raises(Exception, match="rewrote or deleted"):
        _drain(spark, tbl, out, ck)
    # ignoreRewrites skips the delete (no retraction); the append flows
    got = _drain(spark, tbl, out, ck, ignoreRewrites="true")
    assert 50 in {r["id"] for r in got.collect()}
    assert got.count() == 9  # 8 original + the append; no retraction of id=0


def test_batch_reader_filter_pushdown_prunes_files(registered, spark, tmp_path):
    """r11: the batch reader implements Spark 4.1 pushFilters as
    PRUNE-ONLY split planning — manifest column bounds (and hive
    partition values) skip files a conjunction provably cannot match,
    while EVERY filter is returned for Spark to re-apply, so pruning
    can only ever remove provably-empty reads. Same machinery as
    plan_scan (tl._may_match/_translate_where), so rename-aware stats
    prune here too."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    p = str(tmp_path / "t")
    # three files with disjoint id ranges -> disjoint manifest bounds
    tl.create(spark, p, spark.range(0, 100).select(
        "id", (F.col("id") % 2).alias("pt")).coalesce(1), partition_by=["pt"])
    tl.append(spark, p, spark.range(100, 200).select(
        "id", (F.col("id") % 2).alias("pt")).coalesce(1))
    tl.append(spark, p, spark.range(200, 300).select(
        "id", (F.col("id") % 2).alias("pt")).coalesce(1))
    m = tl._read_manifest(p, tl._list_snapshots(p)[-1])
    n_files = len(m["files"])

    # direct-reader observation: partitions() after pushFilters
    schema = spark.read.format("table_log").option("path", p).load().schema
    r = ts._TableLogBatchReaderPushdown(schema, {"path": p})
    residual = list(r.pushFilters([GreaterThan(("id",), 199)]))
    assert len(residual) == 1  # everything handed back to Spark
    pruned = [x for x in r.partitions() if x.abs_path]
    assert 0 < len(pruned) < n_files  # only the id>=200 generation's files

    # partition-value pruning rides the same path
    r2 = ts._TableLogBatchReaderPushdown(schema, {"path": p})
    r2.pushFilters([EqualTo(("pt",), 1)])
    pruned2 = [x for x in r2.partitions() if x.abs_path]
    assert pruned2 and all("pt=1" in x.abs_path for x in pruned2)

    # end-to-end: results match the unpruned scan + post-filter
    got = (
        spark.read.format("table_log").option("path", p)
        .option("pushdown", "true").load()
        .filter("id > 199 and pt = 1")
    )
    assert sorted(x["id"] for x in got.collect()) == [
        i for i in range(200, 300) if i % 2 == 1
    ]
    # conservative on constructs we don't prune (OR never reaches
    # pushFilters as a conjunct; unknown types are passed through)
    got2 = (
        spark.read.format("table_log").option("path", p)
        .option("pushdown", "true").load()
        .filter("id > 250 or pt = 0")
    )
    assert got2.count() == 100 + 50 + 25  # pt=0 half + id 251..299 odd


def test_batch_reader_pushdown_follows_rename(registered, spark, tmp_path):
    """A file written before a rename carries stats under the OLD
    physical name; pruning on the new name must still skip it (or keep
    it) via the historical-name translation — and never lose rows."""
    p = str(tmp_path / "t")
    tl.create(spark, p, spark.range(0, 100).select(
        F.col("id").alias("v")).coalesce(1))
    tl.rename_column(p, "v", "value")
    tl.append(spark, p, spark.range(100, 200).select(
        F.col("id").alias("value")).coalesce(1))
    got = (
        spark.read.format("table_log").option("path", p)
        .option("pushdown", "true").load()
        .filter("value >= 150")
    )
    assert sorted(x["value"] for x in got.collect()) == list(range(150, 200))
    from pyspark.sql.datasource import GreaterThanOrEqual

    schema = spark.read.format("table_log").option("path", p).load().schema
    r = ts._TableLogBatchReaderPushdown(schema, {"path": p})
    r.pushFilters([GreaterThanOrEqual(("value",), 150)])
    pruned = [x for x in r.partitions() if x.abs_path]
    assert len(pruned) == 1  # the pre-rename file (bounds 0..99) skipped


def test_stream_mor_delete_no_retraction_matches_table_changes(
    registered, tbl, spark, tmp_path
):
    """r10 advice: the streaming source and table_changes are two faces
    of one shared walk — under ignoreRewrites they must deliver the
    SAME rows for the same range. A MoR delete in range is a skipped
    rewrite (Delta's ignoreDeletes trade): the deleted rows are NOT
    retracted, so the stream delivers every appended row, exactly like
    table_changes — the end manifest's deletion vectors must not be
    applied to emitted appends. (A fresh BATCH read of the current
    snapshot does apply them — that face reads state, not changes.)"""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    tl.delete_rows_mor(spark, tbl, [("v", "<", 30)])  # DVs id 0,1,2
    got = _drain(spark, tbl, out, ck, ignoreRewrites="true")
    stream_ids = sorted(r["id"] for r in got.collect())
    cdf, _hw = tl.table_changes(spark, tbl, -1, ignore_rewrites=True)
    assert stream_ids == sorted(r["id"] for r in cdf.collect())
    assert stream_ids == list(range(8))  # no retraction: 0,1,2 delivered
    # the batch face (current state) DOES mask them
    cur = spark.read.format("table_log").option("path", tbl).load()
    assert sorted(r["id"] for r in cur.collect()) == list(range(3, 8))


def test_batch_cdf_read_matches_table_changes_feed(registered, tbl, spark):
    """option('readChangeFeed','true') batch: the data-source face of
    table_changes_feed — same walk (tl._changes_walk), same rows. MoR
    deletes come back as _change_type='delete' retraction rows instead
    of failing the read."""
    tl.append(
        spark, tbl,
        spark.createDataFrame([(8, 80, 0), (9, 90, 1)], "id long, v int, pt int")
        .coalesce(1),
    )                                                  # snap 1
    tl.delete_rows_mor(spark, tbl, [("v", "<", 20)])   # snap 2: ids 0,1
    got = (
        spark.read.format("table_log").option("path", tbl)
        .option("readChangeFeed", "true").load()
    )
    assert got.columns[-2:] == ["_change_type", "_commit_snapshot"]
    feed, hw = tl.table_changes_feed(spark, tbl, -1)
    assert _rows(got) == _rows(feed)
    dels = [(r["id"], r["_commit_snapshot"]) for r in got.collect()
            if r["_change_type"] == "delete"]
    assert sorted(dels) == [(0, 2), (1, 2)]
    # exclusive startingSnapshot / inclusive endingSnapshot bound the range
    mid = (
        spark.read.format("table_log").option("path", tbl)
        .option("readChangeFeed", "true")
        .option("startingSnapshot", "0").load()
    )
    assert sorted((r["id"], r["_change_type"]) for r in mid.collect()) == [
        (0, "delete"), (1, "delete"), (8, "insert"), (9, "insert")
    ]
    first = (
        spark.read.format("table_log").option("path", tbl)
        .option("readChangeFeed", "true")
        .option("startingSnapshot", "0").option("endingSnapshot", "1").load()
    )
    assert sorted(r["id"] for r in first.collect()) == [8, 9]


def test_cdf_bulk_mor_delete_plans_without_driver_positions(
    registered, spark, tmp_path, monkeypatch
):
    """r13 (VERDICT #1): the data-source CDF faces must never
    materialize deleted positions on the driver — the twin of
    test_table_changes_feed_bulk_mor_delete_is_distributed, repeated on
    both DSv2 faces. A bulk MoR delete (~571k positions over 1M rows)
    is planned with (a) a guard that explodes on any driver-process
    pyarrow content read of a _deletes/ sidecar — planning opens
    manifests only — and (b) a pickle-size bound on every InputPartition
    (the old planner packed every (row_index, snapshot) into
    _FilePart.delete_rows: megabytes; the new delete parts carry the DV
    file PATH + snapshot). The real end-to-end read then proves the
    worker-side path delivers exactly the retractions."""
    import pickle

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
                "CDF planning read DV content in the driver process"
            )
        return real_read(source, *a, **k)

    monkeypatch.setattr(pq, "read_table", guard)
    opts = {"path": path, "readchangefeed": "true"}
    schema = ts.TableLogDataSource(opts).schema()
    # batch face: plan in THIS (guarded) process, exactly what the
    # spawned planner worker would run
    batch_parts = ts._TableLogBatchCdfReader(
        schema, {**opts, "startingsnapshot": str(s0)}
    ).partitions()
    # streaming face: same planning for the micro-batch range (s0, s1]
    sr = ts._TableLogStreamCdfReader(schema, opts)
    stream_parts = sr.partitions({"snapshot": s0}, {"snapshot": s1})
    for parts in (batch_parts, stream_parts):
        dels = [p for p in parts if p.change_type == "delete"]
        assert dels, "bulk MoR delete must plan delete parts"
        for p in parts:
            assert len(pickle.dumps(p)) < 4096
        for p in dels:
            # bulk shape: the part IS the sidecar (each of the 4 vector
            # part files holds ~143k positions, over the fan-out
            # threshold), no per-file fan-out, no positions
            assert "_deletes" in p.abs_path and p.root == path
            assert not p.dv_files and p.commit_snapshot == s1
    monkeypatch.undo()
    # end-to-end: the worker-side read delivers exactly the retractions
    got = (
        spark.read.format("table_log").option("path", path)
        .option("readChangeFeed", "true")
        .option("startingSnapshot", str(s0)).load()
    )
    by = {r["_change_type"]: r["count"]
          for r in got.groupBy("_change_type").count().collect()}
    n_del = sum(n // 7 + (1 if i < n % 7 else 0) for i in range(4))
    assert by == {"delete": n_del}
    sample = got.limit(5).collect()
    assert all(r["_commit_snapshot"] == s1 for r in sample)


def test_cdf_scatter_mor_delete_plans_per_data_file(
    registered, spark, tmp_path
):
    """r13 review: a small MoR delete grazing many files must keep
    r12's per-data-file read parallelism — one scatter part per touched
    file (carrying the sidecar paths, not positions) instead of one
    part serializing every file read. End-to-end rows must match the
    DataFrame feed exactly."""
    path = str(tmp_path / "t")
    # 6 data files with disjoint id ranges
    tl.create(spark, path, spark.range(0, 60).select(
        "id", (F.col("id") % 10).alias("v")).repartition(6, "id"))
    s0 = tl._list_snapshots(path)[-1]
    s1 = tl.delete_rows_mor(spark, path, [("v", "=", 3)])  # 1 row/file-ish
    opts = {"path": path, "readchangefeed": "true",
            "startingsnapshot": str(s0)}
    schema = ts.TableLogDataSource(opts).schema()
    parts = ts._TableLogBatchCdfReader(schema, opts).partitions()
    dels = [p for p in parts if p.change_type == "delete"]
    touched = {p.abs_path for p in dels}
    assert len(dels) == len(touched) and len(dels) >= 2  # per data file
    for p in dels:
        assert p.dv_files and all("_deletes" in dv for dv, _s in p.dv_files)
        assert all(s == s1 for _dv, s in p.dv_files)
    got = (
        spark.read.format("table_log").option("path", path)
        .option("readChangeFeed", "true")
        .option("startingSnapshot", str(s0)).load()
    )
    feed, _ = tl.table_changes_feed(spark, path, s0)
    assert _rows(got) == _rows(feed)
    ids = sorted(r["id"] for r in got.collect()
                 if r["_change_type"] == "delete")
    assert ids == [3, 13, 23, 33, 43, 53]


def test_stream_cdf_delivers_retractions_exactly_once(
    registered, tbl, spark, tmp_path
):
    """Streaming readChangeFeed: retraction rows travel as data records
    (append-only source, Delta's CDC shape) with exactly-once delivery
    across restarts; a MoR delete no longer stops the stream."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    got = _drain(spark, tbl, out, ck, readChangeFeed="true")
    assert sorted(r["id"] for r in got.collect()) == list(range(8))
    assert set(r["_change_type"] for r in got.collect()) == {"insert"}
    # a MoR delete flows as retractions on the next micro-batch
    tl.delete_rows_mor(spark, tbl, [("v", "<", 20)])
    got = _drain(spark, tbl, out, ck, readChangeFeed="true")
    new = [(r["id"], r["_change_type"]) for r in got.collect()]
    assert sorted(new).count((0, "delete")) == 1
    assert sorted(new).count((1, "delete")) == 1
    assert len(new) == 10  # 8 inserts + 2 retractions, no duplicates
    # no new changes -> nothing delivered
    got = _drain(spark, tbl, out, ck, readChangeFeed="true")
    assert got.count() == 10
    # appends keep flowing after the delete
    tl.append(
        spark, tbl,
        spark.createDataFrame([(50, 500, 0)], "id long, v int, pt int")
        .coalesce(1),
    )
    got = _drain(spark, tbl, out, ck, readChangeFeed="true")
    assert got.count() == 11
    assert (50, "insert") in {(r["id"], r["_change_type"]) for r in got.collect()}


def test_stream_cdc_pipeline_applies_retractions_exactly_once(
    registered, tbl, spark, tmp_path
):
    """The full Delta CDC pattern natively: CDF stream source ->
    foreach_batch_changes_applier -> downstream logged table. Inserts
    append, retractions MERGE-delete, each micro-batch one txn-stamped
    snapshot — exactly-once across restarts — and the downstream state
    equals an independent batch replay of the source's log."""
    dst, ck = str(tmp_path / "dst"), str(tmp_path / "ck")

    def drain():
        q = (
            spark.readStream.format("table_log").option("path", tbl)
            .option("readChangeFeed", "true").load()
            .writeStream.foreachBatch(
                tl.foreach_batch_changes_applier(dst, ["id"], "pipe"))
            .trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination(180)

    drain()
    assert sorted(r["id"] for r in tl.read(spark, dst).collect()) == list(range(8))
    drain()  # replay: nothing new, nothing double-applied
    assert tl.read(spark, dst).count() == 8
    # upstream MoR delete + append flow through as retraction + insert
    tl.delete_rows_mor(spark, tbl, [("v", "<", 20)])  # ids 0, 1
    tl.append(
        spark, tbl,
        spark.createDataFrame([(50, 500, 0)], "id long, v int, pt int")
        .coalesce(1),
    )
    drain()
    got = sorted(r["id"] for r in tl.read(spark, dst).collect())
    assert got == [2, 3, 4, 5, 6, 7, 50]
    assert [h["operation"] for h in tl.history(dst)][-1] == "merge"
    # downstream state == an independent batch replay of the source log
    dst2 = str(tmp_path / "dst2")
    tl.sync_increment(spark, tbl, dst2, keys=["id"])
    assert sorted(tuple(r) for r in tl.read(spark, dst2).collect()) == \
        sorted(tuple(r) for r in tl.read(spark, dst).collect())


def test_batch_cdf_represents_cow_update_and_delete(registered, tbl, spark):
    """r12: update_where / COW delete_rows sidecars flow through the
    batch data-source CDF face — same walk, same rows as
    table_changes_feed (the faces share tl._changes_walk)."""
    s1 = tl.update_where(spark, tbl, [("v", "<", 30)], {"v": "v + 1"})
    s2 = tl.delete_rows(spark, tbl, [("v", ">=", 70)])
    got = (
        spark.read.format("table_log").option("path", tbl)
        .option("readChangeFeed", "true").load()
    )
    feed, _ = tl.table_changes_feed(spark, tbl, -1)
    assert _rows(got) == _rows(feed)
    by = sorted((r["id"], r["_change_type"], r["_commit_snapshot"])
                for r in got.collect() if r["_change_type"] != "insert")
    assert by == [
        (0, "update_postimage", s1), (0, "update_preimage", s1),
        (1, "update_postimage", s1), (1, "update_preimage", s1),
        (2, "update_postimage", s1), (2, "update_preimage", s1),
        (7, "delete", s2),
    ]
    # postimage carries the updated value, preimage the original
    vals = {(r["_change_type"], r["id"]): r["v"] for r in got.collect()}
    assert vals[("update_preimage", 1)] == 10
    assert vals[("update_postimage", 1)] == 11


def test_stream_cdf_delivers_update_pairs_exactly_once(
    registered, tbl, spark, tmp_path
):
    """r12 streaming CDF: an upstream UPDATE flows as pre/post image
    records instead of stopping the stream; exactly-once across
    restarts; the CDC applier nets the pair to the postimage."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    got = _drain(spark, tbl, out, ck, readChangeFeed="true")
    assert got.count() == 8
    tl.update_where(spark, tbl, [("v", "<", 20)], {"v": "v + 100"})
    got = _drain(spark, tbl, out, ck, readChangeFeed="true")
    new = sorted((r["id"], r["_change_type"]) for r in got.collect()
                 if r["_change_type"] != "insert")
    assert new == [(0, "update_postimage"), (0, "update_preimage"),
                   (1, "update_postimage"), (1, "update_preimage")]
    got = _drain(spark, tbl, out, ck, readChangeFeed="true")
    assert got.count() == 12  # replay delivers nothing new
    # end-to-end CDC apply nets the update pair to the postimage
    dst, ck2 = str(tmp_path / "dst"), str(tmp_path / "ck2")
    q = (
        spark.readStream.format("table_log").option("path", tbl)
        .option("readChangeFeed", "true").load()
        .writeStream.foreachBatch(
            tl.foreach_batch_changes_applier(dst, ["id"], "pipe"))
        .trigger(availableNow=True)
        .option("checkpointLocation", ck2).start()
    )
    q.awaitTermination(180)
    assert _rows(tl.read(spark, dst)) == _rows(tl.read(spark, tbl))


def test_stream_fresh_query_first_batch_bounded_by_max_snapshots(
    registered, spark, tmp_path
):
    """r13 (VERDICT #2): a FRESH query's start is known at construction,
    so under maxSnapshotsPerTrigger=2 a 10-snapshot backlog drains in 5
    bounded batches FROM TRIGGER ONE — offset ends step -1→1→3→5→7→9 —
    instead of one unbounded first batch. (Restarted queries keep the
    documented unbounded first batch; the existing admission test and
    the restart-replay tests pin that path.)"""
    import json
    import os
    import time

    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(1).coalesce(1).select("id"))
    for i in range(9):  # snapshots 1..9: a 10-snapshot backlog pre-start
        tl.append(spark, path, spark.range(10 + i, 11 + i)
                  .coalesce(1).select("id"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("table_log").option("path", path)
        .option("maxSnapshotsPerTrigger", "2").load()
        .writeStream.format("parquet").option("path", out)
        .trigger(processingTime="1 second")
        .option("checkpointLocation", ck).start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            time.sleep(2)
            try:
                if spark.read.parquet(out).count() >= 10:
                    break
            except Exception:
                pass
    finally:
        q.stop()
    assert spark.read.parquet(out).count() == 10
    offd = os.path.join(ck, "offsets")
    offs = sorted(int(f) for f in os.listdir(offd) if not f.startswith("."))
    ends = [json.loads(open(os.path.join(offd, str(b))).read()
                       .splitlines()[-1])["snapshot"] for b in offs]
    assert ends[:5] == [1, 3, 5, 7, 9], ends


def test_stream_fresh_cap_tripwire_on_unlearned_checkpoint(
    registered, spark, tmp_path
):
    """The fresh-start cap's safety net: if the engine ever restored a
    checkpoint WITHOUT the measured partitions-replay-first behavior,
    the capped first offset would sit behind the checkpoint — the
    reader must fail loudly on the backwards range, never hand back an
    empty batch that lets the stream re-deliver the gap later. A fresh
    query whose startingSnapshot is ahead of the log (legitimate
    future-tail) stays an ordinary empty batch."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(2).coalesce(1).select("id"))
    for i in range(5):
        tl.append(spark, path, spark.range(10 + i, 11 + i)
                  .coalesce(1).select("id"))
    schema = ts.TableLogDataSource({"path": path}).schema()
    rdr = ts._TableLogStreamReader(
        schema, {"path": path, "maxsnapshotspertrigger": "2"})
    assert rdr.latestOffset() == {"snapshot": 1}  # fresh cap: -1 + 2
    with pytest.raises(ValueError, match="backwards"):
        rdr.partitions({"snapshot": 4}, {"snapshot": 1})
    # restart shape: the replay arrives BEFORE the first latestOffset,
    # so the position is learned and the cap is relative to it
    rdr2 = ts._TableLogStreamReader(
        schema, {"path": path, "maxsnapshotspertrigger": "2"})
    rdr2.partitions({"snapshot": 3}, {"snapshot": 3})  # replayed range
    assert rdr2.latestOffset() == {"snapshot": 5}      # 3 + 2, not -1 + 2
    # future-start fresh query: the offset CLAMPS to the start instead
    # of regressing behind it (r13 review, live-confirmed bug: the
    # engine WALs a behind-start end as the stream position and later
    # delivers the excluded snapshots) — equal offsets, no batch
    rdr3 = ts._TableLogStreamReader(
        schema, {"path": path, "maxsnapshotspertrigger": "2",
                 "startingsnapshot": "10"})
    assert rdr3.latestOffset() == {"snapshot": 10}  # max(latest, start)
    parts = rdr3.partitions({"snapshot": 10}, {"snapshot": 10})
    assert len(parts) == 1 and not parts[0].abs_path


def test_stream_future_starting_snapshot_never_delivers_excluded_rows(
    registered, spark, tmp_path
):
    """r13 review (live-confirmed): startingSnapshot ahead of the log
    used to make latestOffset return the real (smaller) latest; the
    engine WAL'd that regressed end as the stream position, and once
    the table advanced, the next batch delivered the snapshots the
    option had excluded. The offset now clamps to the start: rows
    committed at or before startingSnapshot are NEVER delivered."""
    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(0, 2).coalesce(1).select("id"))
    tl.append(spark, path, spark.range(100, 102).coalesce(1).select("id"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    # snapshot 1 is latest; tail strictly after future snapshot 5 —
    # this run must deliver nothing AND must not WAL a regressed end
    q = (
        spark.readStream.format("table_log").option("path", path)
        .option("startingSnapshot", "5").load()
        .writeStream.format("parquet").option("path", out)
        .trigger(availableNow=True).option("checkpointLocation", ck).start()
    )
    q.awaitTermination(180)
    # advance the table THROUGH snapshot 5 and beyond (snapshots 2..7)
    for i in range(6):
        tl.append(spark, path, spark.range(200 + i, 201 + i)
                  .coalesce(1).select("id"))
    got = _drain(spark, path, out, ck, startingSnapshot="5")
    ids = sorted(r["id"] for r in got.collect())
    # only snapshots 6 and 7 (ids 204, 205) — nothing from 2..5, and
    # nothing from the pre-start snapshots 0..1
    assert ids == [204, 205], ids


def test_cdf_rename_after_range_end_resolves_old_physical(
    registered, tbl, spark
):
    """r12 ADVICE (medium): physical names resolve through the LATEST
    manifest, not the range-end one. A rename committed AFTER the
    requested endingSnapshot used to make the renamed column null-fill
    silently (the end manifest had no mapping for the new name) — the
    schema-change stop can't catch it because the rename snapshot is
    outside the walked range."""
    end = tl.append(
        spark, tbl,
        spark.createDataFrame([(8, 80, 0)], "id long, v int, pt int")
        .coalesce(1),
    )
    tl.rename_column(tbl, "v", "value")  # AFTER the range end
    got = (
        spark.read.format("table_log").option("path", tbl)
        .option("readChangeFeed", "true")
        .option("endingSnapshot", str(end)).load()
    )
    vals = {r["id"]: r["value"] for r in got.collect()}
    assert vals[8] == 80 and vals[0] == 0 and vals[7] == 70
    assert not any(v is None for v in vals.values())
    # the plain streaming face replaying a pre-rename micro-batch from
    # its checkpoint after a restart (schema re-resolved to the new
    # contract) hits the same path: drive partitions() directly
    import json as _json

    m_latest = tl._read_manifest(tbl, tl._list_snapshots(tbl)[-1])
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(_json.loads(m_latest["schema"]))
    rdr = ts._TableLogStreamReader(schema, {"path": tbl})
    parts = rdr.partitions({"snapshot": -1}, {"snapshot": end})
    import pyarrow as pa

    rows = {}
    for p in parts:
        for b in rdr.read(p):
            t = pa.Table.from_batches([b])
            for rid, val in zip(t.column("id").to_pylist(),
                                t.column("value").to_pylist()):
                rows[rid] = val
    assert rows[8] == 80 and rows[0] == 0
    assert not any(v is None for v in rows.values())


def test_stream_max_snapshots_per_trigger_rate_limits_admission(
    registered, spark, tmp_path
):
    """option('maxSnapshotsPerTrigger', n) (Delta's maxFilesPerTrigger):
    a backlog committed WHILE the stream runs drains through bounded
    micro-batches — offset ends advance in at-most-n-snapshot steps.
    Since r13 a FRESH query's first batch is bounded too (see
    test_stream_fresh_query_first_batch_bounded_by_max_snapshots); the
    remaining HONEST LIMIT is a RESTARTED query's first batch, where
    the checkpointed position is invisible until the engine's replay.
    Same rows, exactly-once."""
    import json
    import os
    import time

    path = str(tmp_path / "t")
    tl.create(spark, path, spark.range(2).coalesce(1).select("id"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("table_log").option("path", path)
        .option("maxSnapshotsPerTrigger", "2").load()
        .writeStream.format("parquet").option("path", out)
        .trigger(processingTime="1 second")
        .option("checkpointLocation", ck).start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not os.path.isdir(
                os.path.join(ck, "offsets")):
            time.sleep(1)
        time.sleep(3)  # batch 0 drains the seed table
        for i in range(6):  # backlog builds mid-stream
            tl.append(spark, path, spark.range(10 + i, 11 + i)
                      .coalesce(1).select("id"))
        while time.time() < deadline:
            time.sleep(2)
            try:
                if spark.read.parquet(out).count() >= 8:
                    break
            except Exception:
                pass
    finally:
        q.stop()
    offd = os.path.join(ck, "offsets")
    offs = sorted(int(f) for f in os.listdir(offd) if not f.startswith("."))
    ends = [json.loads(open(os.path.join(offd, str(b))).read()
                       .splitlines()[-1])["snapshot"] for b in offs]
    assert spark.read.parquet(out).count() == 8  # nothing lost, no dups
    # every step after the first batch advances at most 2 snapshots
    steps = [b - a for a, b in zip(ends, ends[1:])]
    assert steps and all(s <= 2 for s in steps), (ends, steps)
    assert len(offs) >= 3  # 6-snapshot backlog / 2 per trigger


def test_stream_cdf_stops_on_schema_change(registered, tbl, spark, tmp_path):
    """The CDF stream keeps the Delta schema-change stop for a
    MID-FLIGHT query (whose resolved contract predates the alter) — and
    the reader's own metadata columns must not trip the comparison. A
    restarted query resolves the new contract and flows."""
    from pyspark.sql import types as T

    pre = (
        spark.read.format("table_log").option("path", tbl)
        .option("readChangeFeed", "true").load().schema
    )  # the mid-flight contract: pre-rename table cols + CDF meta cols
    assert pre.fieldNames()[-2:] == ["_change_type", "_commit_snapshot"]
    tl.rename_column(tbl, "v", "value")
    tl.append(
        spark, tbl,
        spark.createDataFrame([(100, 1000, 0)], "id long, value int, pt int")
        .coalesce(1),
    )
    reader = ts._TableLogStreamCdfReader(pre, {"path": tbl})
    with pytest.raises(ValueError, match="changed the table schema"):
        reader.partitions({"snapshot": 0}, reader.latestOffset())
    # a restarted query (fresh resolution) flows under the new contract —
    # the meta columns alone never trip the stop
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    got = _drain(spark, tbl, out2, ck2, readChangeFeed="true")
    assert "value" in got.columns and got.count() == 9
    assert set(r["_change_type"] for r in got.collect()) == {"insert"}


def test_stream_schema_change_stops_midflight_restarts_clean(
    registered, tbl, spark, tmp_path
):
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, tbl, out, ck)
    pre_alter_schema = tl.read(spark, tbl).schema
    tl.rename_column(tbl, "v", "value")
    tl.append(
        spark, tbl,
        spark.createDataFrame([(42, 420, 0)], "id long, value int, pt int")
        .coalesce(1),
    )
    # a MID-FLIGHT query still carries the old contract (v): its next
    # micro-batch plan must stop, Delta-style (reader-level — an
    # availableNow restart re-resolves the schema and never sees this)
    reader = ts._TableLogStreamReader(pre_alter_schema, {"path": tbl})
    with pytest.raises(ValueError, match="changed the table schema"):
        # range (0, latest]: covers the rename at snapshot 1
        reader.partitions({"snapshot": 0}, reader.latestOffset())
    # a restarted query resolves the NEW contract; the old checkpoint's
    # offsets stay valid, old files conform (their physical column is v)
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    got = _drain(spark, tbl, out2, ck2)
    assert "value" in got.columns
    assert sorted(r["id"] for r in got.collect()) == list(range(8)) + [42]


def test_stream_starting_snapshot_option(registered, tbl, spark, tmp_path):
    tl.append(
        spark, tbl,
        spark.createDataFrame([(20, 200, 0)], "id long, v int, pt int").coalesce(1),
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    got = _drain(spark, tbl, out, ck, startingSnapshot="0")
    # snapshot 0 (the create) is the checkpoint base: only the append flows
    assert sorted(r["id"] for r in got.collect()) == [20]


def test_batch_writer_creates_then_appends(registered, spark, tmp_path):
    p = str(tmp_path / "w")
    spark.range(5).select("id").write.format("table_log").option(
        "path", p
    ).mode("append").save()
    spark.range(5, 8).select("id").write.format("table_log").option(
        "path", p
    ).mode("append").save()
    assert sorted(r["id"] for r in tl.read(spark, p).collect()) == list(range(8))
    # two snapshots: the creating write and the appending write
    ops = [h["operation"] for h in tl.history(p)]
    assert ops == ["create", "append"]
    with pytest.raises(Exception, match="overwrite"):
        spark.range(1).write.format("table_log").option("path", p).mode(
            "overwrite"
        ).save()


def test_batch_writer_respects_retired_names_and_partition_guard(
    registered, tbl, spark, tmp_path
):
    # the writer goes through _append_loop, so the retired-name guard
    # holds on this path too
    p = str(tmp_path / "flat")
    tl.create(spark, p, spark.createDataFrame([(1, 10)], "id long, v int"))
    tl.drop_column(p, "v")
    with pytest.raises(Exception, match="previously dropped"):
        (
            spark.createDataFrame([(2, 20)], "id long, v int")
            .write.format("table_log").option("path", p).mode("append").save()
        )
    # a partitioned destination demands a MATCHING partitionBy option —
    # silently appending layout-less files would null-fill the partition
    # column on read (fail-loud contract)
    with pytest.raises(Exception, match="partitionBy"):
        (
            spark.createDataFrame([(1, 1, 0)], "id long, v int, pt int")
            .write.format("table_log").option("path", tbl).mode("append").save()
        )
    with pytest.raises(Exception, match="partitionBy"):
        (
            spark.createDataFrame([(1, 1, 0)], "id long, v int, pt int")
            .write.format("table_log").option("path", tbl)
            .option("partitionBy", "v")  # wrong column
            .mode("append").save()
        )


def test_batch_writer_partitioned_append_and_create(registered, tbl, spark, tmp_path):
    """option('partitionBy', ...) writes hive-layout destinations: the
    r11 close of the VERDICT r10 parity gap (the reference's flagship
    table is clustered/partitioned, part1:574). Appends onto an
    existing partitioned table and creates new partitioned tables; the
    partition column lives in the path (excluded from file contents),
    readable by BOTH faces and prunable from manifest stats."""
    import os

    # append onto the partitioned fixture table (pt = id % 2)
    (
        spark.createDataFrame([(100, 1000, 0), (101, 1010, 1)],
                              "id long, v int, pt int")
        .write.format("table_log").option("path", tbl)
        .option("partitionBy", "pt").mode("append").save()
    )
    got = sorted((r["id"], r["v"], r["pt"])
                 for r in tl.read(spark, tbl).collect())
    assert (100, 1000, 0) in got and (101, 1010, 1) in got
    assert len(got) == 10
    # the new files landed under hive dirs and carry NO pt column inside
    m = tl._read_manifest(tbl, tl._list_snapshots(tbl)[-1])
    new = [f for f in m["files"] if "part-" in f and "pt=" in f]
    assert new, m["files"]
    import pyarrow.parquet as pq

    for f in new:
        assert "pt" not in pq.read_schema(os.path.join(tbl, f)).names
    # partition-value stats prune: pt=0 files skipped for pt=1 predicate
    keep, skip = tl.plan_scan(tbl, [("pt", "=", 1)])
    assert skip and all("pt=0" in f for f in skip)
    # DSv2 batch read agrees with the native read
    via_ds = spark.read.format("table_log").option("path", tbl).load()
    assert sorted((r["id"], r["v"], r["pt"]) for r in via_ds.collect()) == got

    # CREATE a partitioned table through the data source face
    p2 = str(tmp_path / "created_part")
    (
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None)], "id long, k string"
        )
        .write.format("table_log").option("path", p2)
        .option("partitionBy", "k").mode("append").save()
    )
    m2 = tl._read_manifest(p2, 0)
    assert m2["partition_by"] == ["k"]
    rows = sorted(((r["id"], r["k"]) for r in tl.read(spark, p2).collect()),
                  key=lambda t: t[0])
    assert rows == [(1, "a"), (2, "b"), (3, None)]
    assert any("k=__HIVE_DEFAULT_PARTITION__" in f for f in m2["files"])


def test_batch_writer_chunked_constant_memory(registered, spark, tmp_path):
    """The worker write streams the row iterator through fixed-size
    chunks into ONE ParquetWriter per destination file (r10 VERDICT
    'whole-partition materialization' fix): with chunkRows=100 and
    1000 rows in one Spark partition, the staged file must show ~10 row
    groups — proof the rows were flushed incrementally, never held as
    one list."""
    import os

    import pyarrow.parquet as pq

    p = str(tmp_path / "chunked")
    (
        spark.range(1000).coalesce(1).select("id")
        .write.format("table_log").option("path", p)
        .option("chunkRows", "100").mode("append").save()
    )
    m = tl._read_manifest(p, 0)
    assert len(m["files"]) == 1
    md = pq.ParquetFile(os.path.join(p, m["files"][0])).metadata
    assert md.num_row_groups == 10
    assert md.num_rows == 1000
    assert tl.count_rows(p) == 1000


def test_batch_writer_rejects_reserved_columns_on_create(
    registered, spark, tmp_path
):
    """The create path of the data-source writer routes through the
    same __-prefix guard as table_log.create (r10 advice): a __fname/
    __z/__ri user column would silently corrupt MoR lineage / zorder
    machinery later."""
    p = str(tmp_path / "reserved")
    with pytest.raises(Exception, match="reserved"):
        (
            spark.range(3).select(F.col("id").alias("__fname"))
            .write.format("table_log").option("path", p)
            .mode("append").save()
        )
    assert not tl._list_snapshots(p)


def test_stream_writer_requires_writer_id(registered, spark, tmp_path):
    """No writerId default (r10 advice): a path-keyed default would make
    two writers of one table — or a fresh-checkpoint restart, whose
    batchIds restart at 0 — share a txn high-water mark and silently
    skip micro-batches. The option is mandatory."""
    src, ck, dst = (str(tmp_path / d) for d in ("src", "ck", "dst"))
    spark.range(3).select(F.col("id").alias("x")).coalesce(1).write.json(src)
    sdf = spark.readStream.schema("x long").json(src)
    with pytest.raises(Exception, match="writerId"):
        q = (
            sdf.writeStream.format("table_log").option("path", dst)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination(180)
    assert not tl._list_snapshots(dst)


def test_stream_writer_exactly_once_across_restart(registered, spark, tmp_path):
    """The native-sink twin of foreach_batch_appender: micro-batches
    commit with txn=(writerId, batchId), so a restart that replays the
    last batch is skipped, never double-appended."""
    src, ck, dst = (str(tmp_path / d) for d in ("src", "ck", "dst"))
    spark.range(3).select(F.col("id").alias("x")).coalesce(1).write.json(src)
    sdf = spark.readStream.schema("x long").json(src)

    def drain():
        q = (
            sdf.writeStream.format("table_log").option("path", dst)
            .option("writerId", "w1").trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination(180)

    drain()
    assert sorted(r["x"] for r in tl.read(spark, dst).collect()) == [0, 1, 2]
    drain()  # no new data: the replayed offset commits nothing
    assert tl.read(spark, dst).count() == 3
    # new source file → only the delta lands, one more snapshot
    spark.range(3, 5).select(F.col("id").alias("x")).coalesce(1).write.mode(
        "append"
    ).json(src)
    drain()
    assert sorted(r["x"] for r in tl.read(spark, dst).collect()) == [0, 1, 2, 3, 4]
    m = tl._read_manifest(dst, tl._list_snapshots(dst)[-1])
    assert m["txns"]["w1"] >= 1  # batch ids recorded as the txn high-water


def test_round_trip_stream_table_to_table(registered, tbl, spark, tmp_path):
    """readStream + writeStream through the format: a table-to-table
    incremental pipeline with Spark checkpointing on the read side and
    idempotent txn appends on the write side."""
    out_tbl, ck = str(tmp_path / "dst"), str(tmp_path / "ck")
    sdf = spark.readStream.format("table_log").option("path", tbl).load()
    q = (
        sdf.filter("v >= 40").select("id", "v")
        .writeStream.format("table_log").option("path", out_tbl)
        .option("writerId", "pipe").trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination(180)
    assert sorted(r["id"] for r in tl.read(spark, out_tbl).collect()) == [4, 5, 6, 7]


def test_medallion_bronze_to_silver_pipeline(registered, spark, tmp_path):
    """Bronze→silver through the native format end-to-end: raw documents
    land in a bronze logged table; a streaming query tails it
    (readStream, snapshot offsets), curates with the engine's text
    functions (quality band + language id — pure codegen, no UDFs), and
    writes the silver logged table exactly-once (writeStream, txn
    appends). The silver table must equal the batch twin of the same
    transform — and a second bronze append flows through incrementally
    on restart. This is the lakehouse medallion shape the reference
    builds from Kafka+Iceberg (code/pyspark-job.py:205-216), composed
    entirely from this repo's parts."""
    from open_data_lakehouse_demo_spark.functions import text as tx

    bronze, silver, ck = (str(tmp_path / d) for d in ("bronze", "silver", "ck"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    first = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    tl.create(spark, bronze, first.coalesce(2))

    def curate(df):
        toks = tx.ws_token_count(F.col("text"))
        stop = tx.stopword_count(F.col("text"))
        alpha = tx.alpha_count(F.col("text"))
        chars = F.length("text")
        return df.select(
            "doc_id",
            tx.predicted_lang(F.col("text")).alias("lang"),
            tx.quality_band(
                stop / F.greatest(toks, F.lit(1)),
                alpha / F.greatest(chars, F.lit(1)),
                toks,
            ).alias("band"),
        )

    def drain():
        sdf = spark.readStream.format("table_log").option("path", bronze).load()
        q = (
            curate(sdf).writeStream.format("table_log").option("path", silver)
            .option("writerId", "curator").trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination(240)

    drain()
    got = tl.read(spark, silver)
    want = curate(tl.read(spark, bronze))
    assert _rows(got) == _rows(want)
    # more bronze arrives; the restarted pipeline curates ONLY the delta
    second = docs.filter("doc_id % 2 = 1").select("doc_id", "text")
    tl.append(spark, bronze, second.coalesce(2))
    drain()
    got = tl.read(spark, silver)
    assert got.count() == docs.count()
    assert _rows(got) == _rows(curate(tl.read(spark, bronze)))
    # exactly-once held: every doc_id appears exactly once
    assert got.select("doc_id").distinct().count() == got.count()


def test_batch_read_time_travel_by_tag_and_timestamp(registered, tbl, spark):
    import time as _time

    tl.tag(tbl, "v1")  # snapshot 1 (the fixture's append)
    mid_ms = int(_time.time() * 1000)
    _time.sleep(0.05)
    tl.append(
        spark, tbl,
        spark.createDataFrame([(50, 500, 0)], "id long, v int, pt int").coalesce(1),
    )
    by_tag = spark.read.format("table_log").option("path", tbl).option(
        "tag", "v1"
    ).load()
    assert by_tag.count() == 8
    by_ts = spark.read.format("table_log").option("path", tbl).option(
        "asOfTimestamp", str(mid_ms)
    ).load()
    assert by_ts.count() == 8
    assert spark.read.format("table_log").option("path", tbl).load().count() == 9
    with pytest.raises(Exception, match="no tag"):
        spark.read.format("table_log").option("path", tbl).option(
            "tag", "nope"
        ).load().collect()
    with pytest.raises(Exception, match="at most one"):
        (
            spark.read.format("table_log").option("path", tbl)
            .option("tag", "v1").option("snapshot", "0").load().collect()
        )


def test_stream_stops_on_schema_changing_rewrite_even_when_ignored(
    registered, tbl, spark, tmp_path
):
    """Regression (r10 review #3): ignoreRewrites waives ROW changes,
    never CONTRACT changes — an overwrite that adds a column must stop
    the stream instead of silently conforming the new column away on
    every later append."""
    pre_schema = tl.read(spark, tbl).schema  # the mid-flight contract
    widened = tl.read(spark, tbl).withColumn("w", F.lit(1))
    tl.overwrite(spark, tbl, widened)
    tl.append(
        spark, tbl,
        spark.createDataFrame([(50, 500, 0, 2)], "id long, v int, pt int, w int")
        .coalesce(1),
    )
    reader = ts._TableLogStreamReader(
        pre_schema, {"path": tbl, "ignorerewrites": "true"}
    )
    with pytest.raises(ValueError, match="changed the table schema"):
        reader.partitions({"snapshot": 0}, reader.latestOffset())
    # a restarted query resolves the widened contract and flows
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    got = _drain(spark, tbl, out2, ck2, ignoreRewrites="true")
    assert "w" in got.columns and 50 in {r["id"] for r in got.collect()}
