"""SparkSession factory.

One session, one catalog, replaces all three data planes of the reference
(BigQuery managed tables, REST-catalog Iceberg, BQ-connector reads — see
SURVEY.md §1.1, reference lakehouse_part2_spark_processing.py:139-196).

Scale notes (targets a 1000-executor cluster even though tests run
local[N]):
  - AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
  - shuffle.partitions is a *local* default; at cluster scale AQE
    coalesces from a high initial number, so we set
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` high and
    let AQE shrink rather than hand-tune per query.
  - Arrow enabled for every pandas interchange (grouped-map UDFs are the
    only Python hot path; everything else stays JVM-side).
  - session timezone pinned to UTC so timestamp semantics match the
    ANSI/DuckDB oracle exactly.
  - the generated-code cache holds the whole inventory: one pass of all
    98 queries compiles ~1,170 distinct sources at both sf0.01 and sf0.1
    (the working set depends on plan shapes, not data size), so 2048
    entries keep every warm query at zero Janino compiles.
  - Python call-site capture off (``dataFrameDebugging``): plan building
    is Py4J-bound, and the capture cost ~10 round-trips per API call, so
    a warm build pass of the 16 perfbench query_mix queries falls from
    8,086 to 3,040 Py4J commands (plus ~1,300-1,900 proxy detaches that
    follow Python's garbage collector). Given up: DataFrame errors no
    longer carry the Python call-site fragment in their query context;
    analysis errors keep their messages.
    An external driver that brings its own plain session keeps the
    capture on, since only this factory sets the conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "open_data_lakehouse_demo_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[cpus] for tests/bench; on a real cluster the master/memory knobs
    come from spark-submit and everything here still applies.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # -- planner ----------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesces small shuffles down to ~bytes/minPartitionSize
        # partitions (parallelismFirst only consults this floor). The 1m
        # default caps a stage whose shuffle is byte-light but CPU-dense
        # (candidate-pair verification, array intersections, UNNEST
        # fan-outs) at totalBytes/1m partitions — measured 5 partitions
        # on 32 cores for containment verification. The floor only binds
        # when a stage shuffles < cores × this size, i.e. exactly the
        # byte-light stages; real data-heavy shuffles at cluster scale
        # sit far above either value, so lowering it is scale-neutral.
        # Interleaved A/B at sf0.1 (tools/ab.py --conf-b, r13): 256k gives
        # containment_dups 0.48×, minute_fanout 0.54×, ngram 0.76× with
        # the vector top-k family flat-to-better; 64k overshoots (window
        # stages fragment). Env-overridable for cluster tuning.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"),
        )
        .config("spark.sql.shuffle.partitions", str(cpus))
        # -- codegen -------------------------------------------------------
        # Spark caches each generated class by its source, 100 entries by
        # default (LRU). One pass of all 98 queries compiles 1,167
        # distinct sources at sf0.01 and 1,169 at sf0.1 (counted by
        # CodegenMetrics.METRIC_COMPILATION_TIME with an unbounded
        # cache), and even the 16-query perfbench query_mix needs ~210.
        # At 100 entries every warm pass of interleaved queries evicts
        # and recompiles all of them: 209-211 Janino compiles at 5-6 ms
        # each per query_mix pass. 2048 is 1.75x the larger working set;
        # the margin covers Guava's per-segment eviction (4 segments of
        # 512), which can evict before the cache as a whole is full.
        # Static conf: it only takes effect here, before the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # -- python interchange -----------------------------------------
        # PySpark 4.1 wraps every DataFrame/Column/functions call in
        # pyspark.errors.utils._with_origin, which, while this is true,
        # fetches the active session, reads
        # spark.sql.stackTracesInDataFrameContext, walks the Python stack
        # and sets/clears the JVM's PySparkCurrentOrigin: ~10 Py4J
        # round-trips per API call, only to label error contexts with a
        # Python call site that nothing here reads (pricing_summary's
        # build: 482 -> 122 commands). Read once per process
        # (is_debugging_enabled caches it).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python DataSource filter pushdown (Spark 4.1): lets the
        # format("table_log") reader's option("pushdown","true") variant
        # prune files from manifest stats; harmless otherwise
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # -- semantics ---------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # INT64 micros, not legacy INT96: INT96 carries NO parquet
        # column statistics, which blinds footer-stats file skipping
        # (table_log scan planning, layout.py skip audits) on every
        # timestamp column; int64-micros is also what Iceberg/Delta
        # write. (Found r7: a table_log timestamp-pruning test saw
        # statistics=None on the ts column.)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # ANSI off: GoogleSQL's SAFE_ functions are the compat layer's job
        .config("spark.sql.ansi.enabled", "false")
        # -- local-mode ergonomics ---------------------------------------
        # local mode runs all executor work inside the driver JVM — size it
        # for the box (32 threads × shuffle/agg buffers + checkpoint blocks;
        # 8g showed late-suite GC pressure on long query sequences)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
