"""IO surface: scans, sinks and the table registry.

Covers SURVEY.md §2.1 S1-S8 / S13-S15 with Spark built-ins:
  S1 CSV batch load (explicit schema, header skip)   ref part0:227-236
  S2 Parquet read                                    ref part1:501-503
  S3 Parquet export                                  ref part0:524-531
  S4 JSONL load (incl. array fields)                 ref part0:450-459
  S5/S6 catalog table write/read                     ref part1:506-508, part2:242
  S7/S8 warehouse-connector read/write → plain catalog tables here
  S13 CTAS / S14 DDL → ddl.py
  S15 clustered table → sorted, date-partitioned parquet writes

The reference's three data planes (BigQuery storage, REST-catalog Iceberg,
BQ Storage API reads) all collapse onto one Spark catalog over Parquet.
Iceberg is the production table format (ACID, snapshots, schema evolution);
its runtime jar is not in this image, so the format is selected at runtime
and falls back to Parquet — the query surface above the table layer is
identical either way.
"""

from __future__ import annotations

import os
import threading
import time
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Driver-provided star schema + stream/LLM tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_format(spark: SparkSession) -> str:
    """'iceberg' when the runtime jar is present, else 'parquet'."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return "iceberg"
    except Exception:
        return "parquet"


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — footer-only check.

    Spark's vectorized parquet reader supports MILLIS/MICROS only; NANOS
    columns are read as raw int64 (``spark.sql.legacy.parquet.nanosAsLong``)
    and converted to timestamps in the plan. Footer read is O(1), no data IO.
    """
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S2: self-describing columnar scan; Catalyst pushes filters/pruning.

    Transparently handles TIMESTAMP(NANOS) parquet columns (which Spark's
    reader rejects) by reading them as int64 and converting to
    ``timestamp_ntz`` (floor to microseconds, matching DuckDB/Arrow
    truncation). The conversion is a codegen'd projection; at production
    scale data should be written MICROS so predicates push down to the scan.
    """
    nanos_cols = _nanos_timestamp_columns(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    for c in nanos_cols:
        # Session-timezone-FREE nanos→ntz: epoch day/second arithmetic only.
        # (A cast from TimestampType would render in the session tz and
        # shift values for drivers that don't pin UTC.)
        df = df.withColumn(
            c,
            F.expr(
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval("
                f"`{c}` div 86400000000000, 0, 0, "
                f"CAST((`{c}` div 1000) % 86400000000 AS DECIMAL(20,0)) / 1000000)"
            ),
        )
    return df


# Every session cache, declared once: name -> cap (entries kept before a
# miss resets that name). What each holds and why it pays off:
SESSION_CACHES = {
    "scan": 256,  # t(): resolved parquet scans, ~100 ms of file listing + footer reads each
    "spread": 4096,  # spread(): repartition decisions per analyzed plan, ~100 ms of planning each
    "ann_ranked": 8,  # the ANN recall ground-truth arm shared by ann_recall_eval/_sweep
    "ivf_index": 8,  # trained/encoded IVF indexes: built once, searched by every call
    "decon_eval": 8,  # exact decontamination's eval hash literals (None = oversized)
    "bloom_eval": 8,  # bloom decontamination's bitmap + audit hash literals
    "substr_index": 8,  # ExactSubstr positioned-hash index shared by report and scrub
    "scrub_result": 8,  # the merged-interval relation the three scrub queries apply
}
_MISS = object()
_LOCK = threading.Lock()
_store: dict[str, dict] = {name: {} for name in SESSION_CACHES}
_stats = {name: {"hits": 0, "misses": 0, "build_s": 0.0} for name in SESSION_CACHES}
_store_app: str | None = None


def _application_id(spark: SparkSession) -> str:
    """The SparkContext's applicationId, read over Py4J once per context."""
    sc = spark.sparkContext
    app_id = getattr(sc, "_session_cache_app_id", None)
    if app_id is None:
        app_id = sc._session_cache_app_id = sc.applicationId
    return app_id


def session_cached(spark: SparkSession, name: str, key: Hashable, build: Callable[[], Any]) -> Any:
    """Return the value cached under ``(name, key)``, running ``build()``
    once on a miss. The one way to keep a structure across queries.

    Contract:
    - Immutable fixtures: a value derived from files (a scan, an index,
      literal sets) stays valid only while those files are not rewritten
      in the session. Whoever rewrites them calls the clear hook,
      ``clear_session_cache()``; ``register_views`` does.
    - Application scope: the store belongs to the current SparkContext's
      application and drops every entry when it changes, so keys carry
      no session identity and never serve one application's blocks to
      another.
    - Reset on full: a miss when ``name`` holds its declared cap
      (``SESSION_CACHES``) clears that name only, then inserts.
    - ``None`` is a value like any other; ``build()`` runs outside the
      lock, so it may run Spark jobs and call ``session_cached`` itself.
    - Counters: hits, misses and build seconds per name, read with
      ``session_cache_stats()``.
    """
    global _store, _store_app
    if name not in SESSION_CACHES:
        raise KeyError(f"undeclared session cache {name!r}; declare it in SESSION_CACHES")
    app_id, stats = _application_id(spark), _stats[name]
    with _LOCK:
        if app_id != _store_app:  # a new application: drop every entry
            _store_app, _store = app_id, {n: {} for n in SESSION_CACHES}
        entries = _store[name]
        value = entries.get(key, _MISS)
        if value is not _MISS:
            stats["hits"] += 1
            return value
        stats["misses"] += 1
    t0 = time.perf_counter()
    value = build()
    with _LOCK:
        stats["build_s"] += time.perf_counter() - t0
        if len(entries) >= SESSION_CACHES[name]:
            entries.clear()
        entries[key] = value
    return value


def clear_session_cache(*names: str) -> None:
    """Drop the entries of ``names`` (every cache when none are given)."""
    with _LOCK:
        for name in names or SESSION_CACHES:
            _store[name].clear()


def session_cache_stats() -> dict[str, dict[str, float]]:
    """Per-name hits, misses and build seconds since the process started."""
    with _LOCK:
        return {name: dict(s) for name, s in _stats.items()}


def _needs_spread(df: DataFrame, target: int) -> bool:
    try:
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        n = df.rdd.getNumPartitions()
    return n < max(2, target // 2)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the input has too few partitions for
    CPU-heavy per-row work (hashing, HOF lambdas, pandas UDFs).

    A small local fixture arrives as ONE parquet split, serializing
    expression-heavy stages; at warehouse scale inputs are many-way
    partitioned already, so this is a no-op there (guarded, not blind).
    The repartition shuffles only the narrow input rows — cheap relative
    to the per-row compute it parallelizes.

    Streaming inputs pass through untouched: the partition-count probe
    needs the batch RDD, and a micro-batch's parallelism is the source's
    concern (maxFilesPerTrigger / Kafka partitions) — operators built on
    spread() stay usable at ingest (streaming/ingest.py).

    Probe cost (r13, guide §1/§5): the partition count requires physical
    planning, which is pure driver work (~100 ms per call via ``df.rdd``).
    Two fixes: (a) probe the internal ``queryExecution().toRdd()`` —
    same partition count, no Python-serializer RDD wrapper; (b) memoize
    the DECISION per (analyzed-plan semanticHash, target) in the
    ``spread`` session cache — partition counts derive from the file
    splits and session conf, both fixed within an application, so
    re-planning the identical lineage every call re-derives the
    identical answer. This caches a plan-construction decision only,
    never data or results.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        key = (df._jdf.queryExecution().analyzed().semanticHash(), target)
    except Exception:  # non-classic sessions (e.g. Connect): no memo
        need = _needs_spread(df, target)
    else:
        need = session_cached(spark, "spread", key, lambda: _needs_spread(df, target))
    return df.repartition(target) if need else df


def materialize(df: DataFrame) -> DataFrame:
    """Plan-reuse point: lazily localCheckpoint a small intermediate that
    downstream logic references several times.

    Spark recomputes a DataFrame's whole lineage for every branch that
    uses it, and ReuseExchange only dedupes byte-identical exchanges —
    pushed-down join-key filters routinely break that identity, so a
    post-aggregate referenced by 3 branches re-scans the fact table 3
    times. Checkpointing cuts the lineage: the subtree runs ONCE and all
    branches read the materialized blocks (memory-and-disk). Use ONLY on
    aggregate-reduced intermediates (series, bounds) — never on raw
    fact-table rows, which would spill the whole input. Lazy (eager=False)
    so the materialization happens inside the first action, not at plan
    time."""
    return df.localCheckpoint(eager=False)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> DataFrame:
    """S1: CSV load with an explicit schema (never infer in prod paths)."""
    return spark.read.schema(schema).option("header", header).csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S4: newline-delimited JSON with explicit schema (arrays supported)."""
    return spark.read.schema(schema).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_within_partitions: list[str] | None = None,
) -> None:
    """S3/S15: parquet sink; ``partition_by`` + ``sort_within_partitions``
    reproduce the reference's CLUSTER BY layout intent (part1:574) so
    BETWEEN-style time predicates prune files at scale."""
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan (S2 family): the other splittable columnar warehouse
    format; Spark's vectorized ORC reader pushes filters and prunes
    columns exactly like parquet, so every plan property asserted in
    PLANS.md transfers."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink (S3 family) with the same partitioned-layout contract as
    write_parquet."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read (S2 family): union the footers of every file
    under ``path`` (``mergeSchema``) so files written before a column was
    added scan as NULL for it — the additive-evolution contract Iceberg
    gives via metadata, reproduced for plain parquet directories.

    Merging footers is an O(#files) planning cost — reserve it for
    directories that actually evolved; steady-state reads should pass an
    explicit schema (read_parquet) and keep planning O(1)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """Register the testdata parquet tables as temp views (one per table).

    Temp-view-over-parquet keeps the scan a plain V1/V2 FileScan: predicate
    pushdown and column pruning reach the parquet reader directly.

    Re-registering is the "fixtures changed" entry point, so it flushes
    every session cache: their entries derive from the parquet files and
    hold only under the immutable-fixture contract of session_cached().
    """
    clear_session_cache()
    for name in tables:
        read_parquet(spark, f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every testdata table; also registers temp views."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
