"""Merge-on-read DELETE via deletion vectors (sources/table_log.py
delete_rows_mor): Delta's deletion vectors / Iceberg's position deletes,
reproduced natively over the parquet source's ``_metadata.row_index``.

The contract under test: a MoR delete commits a tiny (file, row_index)
sidecar instead of rewriting data files; every reader anti-joins it out;
rewrite ops (compact / COW delete / overwrite) read THROUGH the vectors
and so materialize the deletes and clear them; vacuum expires vector
files exactly like data files. At 100 TB this is the delete path that
does not rewrite multi-GB files to drop a handful of rows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.sources import table_log as tl


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _manifest(path):
    return tl._read_manifest(path, tl._list_snapshots(path)[-1])


@pytest.fixture()
def tbl(spark, tmp_path):
    """Two single-file snapshots: ids 0..4 (v=id*10) and 5..9."""
    path = str(tmp_path / "t")

    def mk(lo, hi):
        return spark.range(lo, hi).coalesce(1).select(
            F.col("id"), (F.col("id") * 10).alias("v")
        )

    tl.create(spark, path, mk(0, 5))
    tl.append(spark, path, mk(5, 10))
    return path


def test_mor_delete_is_sidecar_only(spark, tbl):
    files_before = _manifest(tbl)["files"]
    snap = tl.delete_rows_mor(spark, tbl, [("v", "<", 30)])
    m = _manifest(tbl)
    assert m["files"] == files_before  # data files untouched
    assert m["n_deleted"] == 3 and len(m["delete_vectors"]) >= 1
    assert all(f.startswith("_deletes/") for f in m["delete_vectors"])
    got = tl.read(spark, tbl)
    assert _rows(got) == [(i, i * 10) for i in range(3, 10)]
    # snapshot isolation: the pre-delete snapshot still has every row
    assert tl.read(spark, tbl, snapshot=snap - 1).count() == 10
    # nothing-matches is a metadata no-op (no new snapshot)
    assert tl.delete_rows_mor(spark, tbl, [("v", ">", 10**6)]) == snap


def test_mor_deletes_accumulate_without_remarking(spark, tbl):
    tl.delete_rows_mor(spark, tbl, [("v", "<", 30)])
    dv1 = set(_manifest(tbl)["delete_vectors"])
    # second delete OVERLAPS the first (v < 50 ⊇ v < 30): already-deleted
    # rows must not re-enter a vector (the scan reads through the DVs)
    tl.delete_rows_mor(spark, tbl, [("v", "<", 50)])
    m = _manifest(tbl)
    new = [f for f in m["delete_vectors"] if f not in dv1]
    dv = spark.read.parquet(*[os.path.join(tbl, f) for f in new])
    assert dv.count() == 2  # only rows 3 and 4, not 0-2 again
    assert m["n_deleted"] == 2
    assert _rows(tl.read(spark, tbl)) == [(i, i * 10) for i in range(5, 10)]


def test_mor_pruning_and_read_where_equivalence(spark, tbl):
    tl.delete_rows_mor(spark, tbl, [("v", "=", 70)])
    # read_where still prunes by manifest bounds AND applies the DVs
    keep, skip = tl.plan_scan(tbl, [("v", ">=", 50)])
    assert len(keep) == 1 and len(skip) == 1
    assert _rows(tl.read_where(spark, tbl, [("v", ">=", 50)])) == _rows(
        tl.read(spark, tbl).filter("v >= 50")
    )
    assert tl.read_where(spark, tbl, [("v", "=", 70)]).count() == 0


def test_compact_materializes_and_vacuum_expires_vectors(spark, tbl):
    tl.delete_rows_mor(spark, tbl, [("v", "<", 30)])
    dv_rel = _manifest(tbl)["delete_vectors"]
    assert all(os.path.exists(os.path.join(tbl, f)) for f in dv_rel)
    tl.compact(spark, tbl, target_files=1)
    m = _manifest(tbl)
    assert "delete_vectors" not in m  # deletes materialized
    assert _rows(tl.read(spark, tbl)) == [(i, i * 10) for i in range(3, 10)]
    swept = tl.vacuum(spark, tbl, keep_last=1, orphan_retention_ms=0)
    assert set(dv_rel) <= set(swept)
    assert not any(os.path.exists(os.path.join(tbl, f)) for f in dv_rel)
    assert _rows(tl.read(spark, tbl)) == [(i, i * 10) for i in range(3, 10)]


def test_overwrite_clears_vectors_without_opening_them(spark, tbl, monkeypatch):
    """A full rewrite carries no file, so it sheds every deletion vector
    without opening one: the streaming overwrite sink pays no DV I/O."""
    import pyarrow.parquet as pq

    tl.delete_rows_mor(spark, tbl, [("v", "<", 30)])
    opened = []
    real = pq.read_table
    monkeypatch.setattr(
        pq, "read_table", lambda p, *a, **k: opened.append(p) or real(p, *a, **k)
    )
    tl.overwrite(spark, tbl, spark.range(3).select(
        F.col("id"), (F.col("id") * 10).alias("v")))
    assert opened == []
    assert "delete_vectors" not in _manifest(tbl)
    assert _rows(tl.read(spark, tbl)) == [(0, 0), (1, 10), (2, 20)]


def test_vacuum_keeps_live_vectors(spark, tbl):
    tl.delete_rows_mor(spark, tbl, [("v", "<", 30)])
    dv_rel = _manifest(tbl)["delete_vectors"]
    tl.vacuum(spark, tbl, keep_last=1, orphan_retention_ms=0)
    assert all(os.path.exists(os.path.join(tbl, f)) for f in dv_rel)
    assert _rows(tl.read(spark, tbl)) == [(i, i * 10) for i in range(3, 10)]


def test_cow_delete_after_mor_keeps_both(spark, tbl):
    """Partial COW rewrite on a table with live DVs: the rewritten file
    materializes its deletes; untouched files keep reading through the
    carried vectors."""
    tl.delete_rows_mor(spark, tbl, [("v", "=", 10)])   # file 0
    tl.delete_rows(spark, tbl, [("v", "=", 70)])       # rewrites file 1 only
    m = _manifest(tbl)
    assert m["skipped_files"] == 1 and m["rewritten_files"] == 1
    assert m["delete_vectors"]  # carried for the untouched file
    assert _rows(tl.read(spark, tbl)) == [
        (i, i * 10) for i in range(10) if i not in (1, 7)
    ]


def test_append_and_rollback_carry_vectors(spark, tbl):
    snap_mor = tl.delete_rows_mor(spark, tbl, [("v", "<", 20)])
    tl.append(
        spark, tbl,
        spark.createDataFrame([(100, 1000)], "id long, v long").coalesce(1),
    )
    got = tl.read(spark, tbl)
    assert got.count() == 9 and got.where("v < 20").count() == 0
    # roll forward past the append, back to the MoR snapshot
    tl.rollback(spark, tbl, snap_mor)
    assert _rows(tl.read(spark, tbl)) == [(i, i * 10) for i in range(2, 10)]


def test_mor_on_evolved_table(spark, tbl):
    """MoR delete through a renamed + widened column: the position scan
    runs under the conform contract (predicate on the current name binds
    to old-name file stats; the lineage columns coexist with the
    explicit-schema scan)."""
    tl.rename_column(tbl, "v", "value")
    files_before = _manifest(tbl)["files"]
    tl.delete_rows_mor(spark, tbl, [("value", "<", 30)])
    got = tl.read(spark, tbl)
    assert _rows(got) == [(i, i * 10) for i in range(3, 10)]
    assert _manifest(tbl)["files"] == files_before  # still sidecar-only
    # and an alter AFTER the MoR delete carries the vectors
    tl.add_column(tbl, "score", "double")
    assert tl.read(spark, tbl).count() == 7


def test_mor_null_predicate_rows_survive(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v int"
    ).coalesce(1)
    tl.create(spark, path, df)
    tl.delete_rows_mor(spark, path, [("v", "<", 100)])
    got = _rows(tl.read(spark, path))
    assert got == [(2, None)]  # NULL predicate rows survive (SQL DELETE)


def test_internal_namespace_reserved_everywhere(spark, tmp_path):
    """__-prefixed columns would corrupt the internal machinery
    (__nrows stats, __fname/__ri MoR lineage, __z clustering), so every
    writer path refuses them at the door."""
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="reserved"):
        tl.create(spark, path, spark.createDataFrame([(1, 2)], "id long, __ri long"))
    tl.create(spark, path, spark.createDataFrame([(1, 2)], "id long, v long"))
    with pytest.raises(ValueError, match="reserved"):
        tl.append(
            spark, path,
            spark.createDataFrame([(1, 2, 3)], "id long, v long, __nrows long"),
        )
    with pytest.raises(ValueError, match="reserved"):
        tl.add_column(path, "__fname", "string")
    # the delete_rows_mor belt-and-braces guard stays for legacy tables
    # (manifests written before the create/append guards existed)
    import json

    snaps = tl._list_snapshots(path)
    m = tl._read_manifest(path, snaps[-1])
    legacy = json.loads(m["schema"])
    legacy["fields"].append({"name": "__ri", "type": "long",
                             "nullable": True, "metadata": {}})
    m["schema"] = json.dumps(legacy)
    with open(tl._manifest_path(path, snaps[-1]), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="lineage"):
        tl.delete_rows_mor(spark, path, [("id", "=", 1)])


def test_mor_delete_partitioned_no_basename_collision(spark, tmp_path):
    """Regression (r10 review): one partitioned write stages
    identically-named part files into every k=v/ dir, so a deletion
    vector keyed by BASENAME would delete the same row index from the
    wrong partition's file. Lineage is keyed by the manifest-relative
    path; deleting one row from pt=0 must leave the identically-
    positioned row in pt=1 untouched."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, 100, 0), (1, 100, 1)], "id long, v int, pt int"
    ).repartition(1)
    tl.create(spark, path, df, partition_by=["pt"])
    # both partition files carry one row at row_index 0 with v=100;
    # delete only the pt=0 row
    snap = tl.delete_rows_mor(spark, path, [("id", "=", 0)])
    got = _rows(tl.read(spark, path))
    assert got == [(1, 100, 1)]  # pt=1's row 0 SURVIVES
    assert tl.count_rows(path) == 1
    # the vector names the full relative path, not a basename
    m = tl._read_manifest(path, snap)
    import os

    dv = spark.read.parquet(*[os.path.join(path, f) for f in m["delete_vectors"]])
    fnames = [r["__fname"] for r in dv.collect()]
    assert all(f.startswith("data/pt=0") or "pt=0" in f for f in fnames), fnames
