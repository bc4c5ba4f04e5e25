"""IO + DDL surface tests (SURVEY §2.1, §2.10): CSV/JSONL round-trips,
clustered parquet writes, CTAS / DELETE / namespace / catalog ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_data_lakehouse_demo_spark.plans import ddl
from open_data_lakehouse_demo_spark.sources import io
from tests.conftest import SF_DIR

CSV_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def test_csv_roundtrip_with_schema(spark, tmp_path):
    p = str(tmp_path / "in.csv")
    with open(p, "w") as f:
        f.write("id,name,score\n1,alpha,1.5\n2,beta,2.5\n")
    df = io.read_csv(spark, p, CSV_SCHEMA)
    assert df.schema == CSV_SCHEMA
    assert {(r["id"], r["name"], r["score"]) for r in df.collect()} == {
        (1, "alpha", 1.5),
        (2, "beta", 2.5),
    }


def test_jsonl_with_array_field(spark, tmp_path):
    p = str(tmp_path / "in.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "stops": [10, 20, 30]}\n{"id": 2, "stops": []}\n')
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("stops", T.ArrayType(T.IntegerType())),
        ]
    )
    rows = {r["id"]: r["stops"] for r in io.read_jsonl(spark, p, schema).collect()}
    assert rows == {1: [10, 20, 30], 2: []}


def test_clustered_parquet_write_prunes(spark, tmp_path):
    """S15: date-partitioned write → partition pruning visible in the plan."""
    events = io.read_parquet(spark, f"{SF_DIR}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    out = str(tmp_path / "clustered")
    io.write_parquet(
        events, out, partition_by=["day"], sort_within_partitions=["ts"]
    )
    back = spark.read.parquet(out)
    one_day = back.select("day").distinct().limit(1).collect()[0]["day"]
    plan = back.filter(F.col("day") == one_day)._jdf.queryExecution().executedPlan().toString()
    assert back.count() == events.count()
    # partition filter must reach the scan (pruned read, not post-filter)
    assert "PartitionFilters" in plan and "day" in plan


def test_ctas_namespace_delete_lifecycle(spark):
    ddl.create_namespace(spark, "lakehouse_test")
    io.register_views(spark, SF_DIR, ("nation",))
    ddl.ctas(
        spark,
        "lakehouse_test.nations_copy",
        "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    )
    try:
        tables = {r["tableName"] for r in ddl.show_tables(spark, "lakehouse_test").collect()}
        assert "nations_copy" in tables

        desc = ddl.describe_table(spark, "lakehouse_test.nations_copy").collect()
        assert {"n_nationkey", "n_name", "n_regionkey"} <= {r["col_name"] for r in desc}

        assert spark.table("lakehouse_test.nations_copy").count() == 25
        n_deleted = ddl.delete_where(
            spark, "lakehouse_test.nations_copy", "n_regionkey = 0"
        )
        assert n_deleted == 5
        assert spark.table("lakehouse_test.nations_copy").count() == 20

        assert ddl.truncate(spark, "lakehouse_test.nations_copy") == 20
        assert spark.table("lakehouse_test.nations_copy").count() == 0
    finally:
        ddl.drop_table(spark, "lakehouse_test.nations_copy")
    tables = {r["tableName"] for r in ddl.show_tables(spark, "lakehouse_test").collect()}
    assert "nations_copy" not in tables


def test_ctas_from_df_append(spark):
    ddl.create_namespace(spark, "lakehouse_test")
    nation = io.read_parquet(spark, f"{SF_DIR}/nation.parquet")
    try:
        ddl.ctas_from_df(nation, "lakehouse_test.nation_df")
        ddl.ctas_from_df(nation, "lakehouse_test.nation_df", mode="append")
        assert spark.table("lakehouse_test.nation_df").count() == 50
    finally:
        ddl.drop_table(spark, "lakehouse_test.nation_df")


def test_nanos_parquet_read_is_tz_free(spark):
    """events.parquet stores TIMESTAMP(NANOS); the conversion must not
    depend on the session timezone (driver sessions may not pin UTC)."""
    df = io.read_parquet(spark, f"{SF_DIR}/events.parquet")
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    utc_val = df.orderBy("event_id").first()["ts"]
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ny_val = io.read_parquet(spark, f"{SF_DIR}/events.parquet").orderBy(
            "event_id"
        ).first()["ts"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert utc_val == ny_val


def test_merge_into_upsert_semantics(spark):
    ddl.create_namespace(spark, "lakehouse_test")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "name", "score"]
    )
    try:
        ddl.ctas_from_df(base, "lakehouse_test.merge_t")
        source = spark.createDataFrame(
            [(2, "b2", 21.0), (4, "d", 40.0)], ["k", "name", "score"]
        )
        stats = ddl.merge_into(spark, "lakehouse_test.merge_t", source, on=["k"])
        assert stats == {"updated": 1, "inserted": 1}
        rows = {r["k"]: (r["name"], r["score"]) for r in spark.table("lakehouse_test.merge_t").collect()}
        assert rows == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}

        # matched-ignore / not-matched-insert = pure insert-new
        src2 = spark.createDataFrame([(4, "dX", 41.0), (5, "e", 50.0)], ["k", "name", "score"])
        stats2 = ddl.merge_into(
            spark, "lakehouse_test.merge_t", src2, on=["k"], when_matched="ignore"
        )
        assert stats2 == {"updated": 0, "inserted": 1}
        rows2 = {r["k"]: r["name"] for r in spark.table("lakehouse_test.merge_t").collect()}
        assert rows2[4] == "d" and rows2[5] == "e"  # 4 untouched, 5 inserted
    finally:
        ddl.drop_table(spark, "lakehouse_test.merge_t")


def test_merge_into_rejects_schema_mismatch(spark):
    ddl.create_namespace(spark, "lakehouse_test")
    base = spark.createDataFrame([(1, "a")], ["k", "name"])
    try:
        ddl.ctas_from_df(base, "lakehouse_test.merge_bad")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="schema mismatch"):
            ddl.merge_into(
                spark,
                "lakehouse_test.merge_bad",
                spark.createDataFrame([(1, 2.0)], ["k", "other"]),
                on=["k"],
            )
    finally:
        ddl.drop_table(spark, "lakehouse_test.merge_bad")


# ---------------------------------------------------------------------------
# S5/S6/M4 real Iceberg paths — CI-style skip-unless-jar guard so the
# format branches can't rot: the sandbox has no iceberg-spark-runtime jar
# (table_format falls back to 'parquet' and these skip), but any
# environment that gains the jar exercises the native ACID DELETE / MERGE
# and the snapshots metadata table immediately (VERDICT r3 item 8).
# ---------------------------------------------------------------------------

def _iceberg_available(spark) -> bool:
    from open_data_lakehouse_demo_spark.sources.io import table_format

    return table_format(spark) == "iceberg"


def test_iceberg_native_paths_when_jar_present(spark):
    """S5 (Iceberg table write), S6 (catalog read-back), S14 (native ACID
    DELETE), M4 (snapshots metadata introspection) on the REAL Iceberg
    runtime. Skipped in sandboxes without the jar — the point is that the
    branch stays executable, not that every environment runs it."""
    if not _iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath")
    ddl.create_namespace(spark, "lakehouse_ice")
    try:
        ddl.ctas(
            spark,
            "lakehouse_ice.t",
            "SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS v(k, name)",
        )
        # S6: catalog read-back
        assert spark.table("lakehouse_ice.t").count() == 3
        # S14: native ACID DELETE (no copy-on-write table swap)
        deleted = ddl.delete_where(spark, "lakehouse_ice.t", "k = 2")
        assert deleted == 1
        # MERGE INTO native path
        src = spark.createDataFrame([(1, "A"), (9, "z")], ["k", "name"])
        stats = ddl.merge_into(spark, "lakehouse_ice.t", src, on=["k"])
        assert stats == {"updated": 1, "inserted": 1}
        # M4: snapshots metadata table exists and records the commits
        snaps = spark.sql("SELECT snapshot_id, operation FROM lakehouse_ice.t.snapshots")
        assert snaps.count() >= 3  # create + delete + merge
    finally:
        ddl.drop_table(spark, "lakehouse_ice.t")


# ---------------------------------------------------------------------------
# ORC + schema-evolution reads (S2/S3 family extensions)
# ---------------------------------------------------------------------------

def test_orc_roundtrip_partitioned(spark, tmp_path):
    """S2/S3 family: ORC write→read preserves values and partitioned
    layout; a partition-key filter prunes to one directory's files."""
    from open_data_lakehouse_demo_spark.sources.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], ["k", "grp", "v"]
    )
    out = str(tmp_path / "orc")
    write_orc(df, out, partition_by=["grp"])
    back = read_orc(spark, out)
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [
        (1, 10), (2, 20), (3, 30)
    ]
    pruned = back.filter(back["grp"] == "a")
    assert pruned.count() == 2
    # partition pruning is visible in the scan's selected partition count
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "grp" in plan


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """read_parquet_merged unions footers: files written before a column
    existed read as NULL for it (additive evolution over plain parquet)."""
    from open_data_lakehouse_demo_spark.sources.io import read_parquet_merged

    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "x")], ["k", "name"]).write.parquet(out)
    spark.createDataFrame(
        [(2, "y", 3.5)], ["k", "name", "score"]
    ).write.mode("append").parquet(out)
    merged = read_parquet_merged(spark, out)
    assert set(merged.columns) == {"k", "name", "score"}
    rows = {r["k"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 3.5


def test_profile_table_single_pass_stats(spark, duck):
    """M-family profiling: per-column nulls/min/max exact vs DuckDB;
    approx_distinct within the HLL rsd of the exact count; one row per
    column from ONE aggregation pass."""
    from open_data_lakehouse_demo_spark.operators.profiling import profile_table
    from open_data_lakehouse_demo_spark.sources.io import read_parquet
    from tests.conftest import SF_DIR

    df = read_parquet(spark, f"{SF_DIR}/orders.parquet")
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert set(prof) == set(df.columns)
    for col in ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]:
        exact = duck.execute(
            f"SELECT COUNT(*), COUNT({col}), COUNT(DISTINCT {col}), "
            f"CAST(MIN({col}) AS VARCHAR), CAST(MAX({col}) AS VARCHAR) FROM orders"
        ).fetchone()
        r = prof[col]
        assert r["n_rows"] == exact[0]
        assert r["n_rows"] - r["n_nulls"] == exact[1]
        assert abs(r["approx_distinct"] - exact[2]) <= max(2, 0.15 * exact[2])
        # numeric renderings can differ (1.5 vs 1.50); compare as floats
        # when possible, else exact string
        def same(a, b):
            try:
                return abs(float(a) - float(b)) < 1e-9
            except (TypeError, ValueError):
                return a == b
        assert same(r["min_value"], exact[3]) and same(r["max_value"], exact[4])
    # single aggregation pass: exactly one Aggregate pair in the plan
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    # sum, not either-or: `a <= 2 or b <= 2` is vacuously true when one
    # operator kind is absent (count 0), hiding a multi-pass regression
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") <= 2


def test_alter_table_schema_evolution_lifecycle(spark):
    """S14+: the catalog-table face of schema evolution (Iceberg gets
    metadata-only ALTERs; the V1 parquet fallback rewrites copy-on-write
    with the same catalog-swap pattern as delete_where). The logged-table
    (path-addressed) twin is tests/test_schema_evolution.py."""
    ddl.create_namespace(spark, "lakehouse_test")
    t = "lakehouse_test.evolve_t"
    try:
        base = spark.createDataFrame(
            [(1, 10, 1.5), (2, 20, 2.5)], "k int, v int, x float"
        )
        ddl.ctas_from_df(base, t)
        # add: old rows read as NULL
        ddl.alter_add_column(spark, t, "tag", "string")
        got = spark.table(t)
        assert "tag" in got.columns
        assert got.where("tag is null").count() == 2
        # rename preserves values
        ddl.alter_rename_column(spark, t, "v", "val")
        got = spark.table(t)
        assert sorted(r["val"] for r in got.collect()) == [10, 20]
        # widen int->long then append a beyond-int32 value
        ddl.alter_widen_column(spark, t, "val", "bigint")
        assert dict(spark.table(t).dtypes)["val"] == "bigint"
        spark.createDataFrame(
            [(3, 5 * 10**9, 3.5, "c")], "k int, val long, x float, tag string"
        ).write.format("parquet").mode("append").saveAsTable(t)
        assert spark.table(t).where("val > 4000000000").count() == 1
        # narrowing / lateral moves are refused
        import pytest as _pytest

        with _pytest.raises(ValueError, match="cannot widen"):
            ddl.alter_widen_column(spark, t, "x", "bigint")
        # drop
        ddl.alter_drop_column(spark, t, "x")
        assert "x" not in spark.table(t).columns
        assert spark.table(t).count() == 3
    finally:
        ddl.drop_table(spark, t)


def test_spread_probe_memoizes_decision_not_data(spark):
    """r13: spread() memoizes only the repartition DECISION per analyzed
    plan — same decision on repeat calls, data recomputed per action."""
    from open_data_lakehouse_demo_spark.sources.io import (
        clear_session_cache,
        session_cache_stats,
        spread,
    )

    def counts():
        s = session_cache_stats()["spread"]
        return s["hits"], s["misses"]

    clear_session_cache("spread")
    hits, misses = counts()
    df = spark.range(0, 1000).toDF("n")  # tiny → needs spreading
    a = spread(df)
    b = spread(spark.range(0, 1000).toDF("n"))  # same semantic plan
    assert counts() == (hits + 1, misses + 1)  # second call hit the memo
    target = spark.sparkContext.defaultParallelism
    assert a.rdd.getNumPartitions() == target
    assert b.rdd.getNumPartitions() == target
    assert a.count() == 1000 and b.count() == 1000
    # a wide-enough input passes through untouched (no repartition node)
    wide = spark.range(0, 1000).repartition(target)
    assert spread(wide).rdd.getNumPartitions() == target
