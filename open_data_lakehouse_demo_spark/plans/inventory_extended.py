"""Query inventory — Spark-native operators beyond the reference's usage.

SURVEY §2.3 notes semi/anti joins are absent from the reference but our
engine "should expose them"; §2.4/§2.6 note COUNT DISTINCT, rollup and set
operators are likewise absent. They're Spark built-ins — exposed here as
oracle-checked queries so the surface is complete and regression-guarded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.plans.inventory import dec, query, t

_ENGLISH_DOCS_ORACLE = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE lang = 'en' ORDER BY doc_id LIMIT 100
"""


@query(
    "english_docs_sample",
    ("P8", "O1", "O2"),
    oracle=_ENGLISH_DOCS_ORACLE,
    tags=("extended",),
)
def english_docs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-key equality filter + ORDER BY + LIMIT (P8/O1/O2 — ref
    part3:626-629 `WHERE bus_line = '{line}'`, part1:116-122 LIMIT).
    Catalyst plans TakeOrderedAndProject with the filter pushed to the scan."""
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .orderBy("doc_id")
        .limit(100)
        .select("doc_id", "lang", "source", "n_chars")
    )


_SEMI_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment,
  CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       THEN 'active' ELSE 'inactive' END AS status
FROM customer c
"""


@query("customer_order_status", ("J9",), oracle=_SEMI_ANTI_ORACLE, tags=("extended",))
def customer_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface (SURVEY §2.3 'expose left_semi/left_anti'):
    customers partitioned into active/inactive by order existence. One
    scan each side; the semi and anti branches share the shuffle under AQE
    via the union of two hash joins on the same key."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").select("o_custkey")
    active = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment", F.lit("active").alias("status"))
    inactive = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment", F.lit("inactive").alias("status"))
    return active.unionByName(inactive)


_SETOPS_ORACLE = """
WITH big_buyers AS (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
), recent_buyers AS (
  SELECT DISTINCT o_custkey AS custkey FROM orders
  WHERE o_orderdate > (SELECT MAX(o_orderdate) FROM orders) - INTERVAL 365 DAY
)
SELECT 'both' AS cohort, custkey FROM (SELECT custkey FROM big_buyers INTERSECT SELECT custkey FROM recent_buyers)
UNION ALL
SELECT 'big_only' AS cohort, custkey FROM (SELECT custkey FROM big_buyers EXCEPT SELECT custkey FROM recent_buyers)
UNION ALL
SELECT 'recent_only' AS cohort, custkey FROM (SELECT custkey FROM recent_buyers EXCEPT SELECT custkey FROM big_buyers)
"""


@query("buyer_cohort_setops", ("SO1", "P9"), oracle=_SETOPS_ORACLE, tags=("extended",))
def buyer_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (UNION ALL / INTERSECT / EXCEPT — SURVEY §2.6 notes
    their absence in the reference; Spark-native here), over two order
    cohorts anchored at a scalar subquery."""
    orders = t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH big_buyers AS (
          SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
        ), recent_buyers AS (
          SELECT DISTINCT o_custkey AS custkey FROM orders
          WHERE o_orderdate > (SELECT MAX(o_orderdate) FROM orders) - INTERVAL 365 DAY
        )
        SELECT 'both' AS cohort, custkey FROM (SELECT custkey FROM big_buyers INTERSECT SELECT custkey FROM recent_buyers)
        UNION ALL
        SELECT 'big_only' AS cohort, custkey FROM (SELECT custkey FROM big_buyers EXCEPT SELECT custkey FROM recent_buyers)
        UNION ALL
        SELECT 'recent_only' AS cohort, custkey FROM (SELECT custkey FROM recent_buyers EXCEPT SELECT custkey FROM big_buyers)
        """
    )


_ROLLUP_ORACLE = """
SELECT COALESCE(r.r_name, 'ALL') AS region,
  CASE WHEN r.r_name IS NULL THEN 'ALL' ELSE COALESCE(n.n_name, 'ALL') END AS nation,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders,
  COUNT(DISTINCT o.o_custkey) AS n_buyers
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
"""


@query(
    "revenue_rollup_region_nation",
    ("A10", "J4"),
    oracle=_ROLLUP_ORACLE,
    tags=("extended",),
)
def revenue_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + COUNT DISTINCT (SURVEY §2.4 notes both absent in the
    reference; Spark-native). Exact decimal revenue; distinct-count is
    exact (the scale path is approx_count_distinct — HLL, mergeable).
    NULL grouping rows are labeled 'ALL' so the oracle compare is
    unambiguous."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    rolled = joined.rollup("r_name", "n_name").agg(
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_buyers"),
    )
    return rolled.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.when(F.col("r_name").isNull(), "ALL")
        .otherwise(F.coalesce("n_name", F.lit("ALL")))
        .alias("nation"),
        "revenue",
        "n_orders",
        "n_buyers",
    )


# ---------------------------------------------------------------------------
# SK1 — explicit salted skew join (driver-verified: salting is invisible)
# ---------------------------------------------------------------------------
#
# event_type has 5 values over the whole fact table — the worst-case hot
# key. The Spark path routes the join through operators/skew.salted_join
# (key + uniform salt, dimension replicated per salt bucket); the oracle
# is the PLAIN join + aggregate, so the driver hash proves the salt
# refines only the partitioning, never the match. All comparisons are
# exact: value*n > sum in decimal space — no cross-engine division or
# float-average hazards.

_SALTED_ORACLE = """
WITH dim AS (
  SELECT event_type, COUNT(*) AS n_t,
         SUM(CAST(value AS DECIMAL(18,2))) AS sum_t
  FROM events GROUP BY 1
)
SELECT e.event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN CAST(e.value AS DECIMAL(18,2)) * d.n_t > d.sum_t
                THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
FROM events e JOIN dim d USING (event_type)
GROUP BY 1
"""


@query("skewed_join_salted", ("SK1", "J4"), oracle=_SALTED_ORACLE, tags=("extended",))
def skewed_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dimension join on a 5-value (maximally hot) key, executed
    through the explicit salting pattern (operators/skew.salted_join:
    per-row salt on the fact side, dimension replicated per salt bucket)
    and aggregated back — the oracle is the plain join, so correctness of
    the salt (partitioning-only, match-exact) is driver-hashed.

    Scale shape: without salting, 5 keys hash to ≤5 reducers and one
    task drags the stage; salting spreads each key over 16 buckets. The
    dimension replication is an explode of a literal range (no shuffle),
    and the above-average test is exact decimal cross-multiplication
    (value·n > sum) — no division, no float average."""
    from open_data_lakehouse_demo_spark.operators.skew import salted_join

    events = t(spark, sf_dir, "events")
    dim = events.groupBy("event_type").agg(
        F.count("*").alias("n_t"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_t"),
    )
    joined = salted_join(
        events.select("event_type", "value"), dim, on=["event_type"]
    )
    return joined.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(
            F.when(
                F.col("value").cast("decimal(18,2)") * F.col("n_t") > F.col("sum_t"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_above_avg"),
    )


# ---------------------------------------------------------------------------
# M5 — single-pass table profiling (driver-visible queries)
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    ("c_custkey", "bigint"),
    ("c_name", "string"),
    ("c_nationkey", "int"),
    ("c_acctbal", "double"),
    ("c_mktsegment", "string"),
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", '{dt}' AS dtype, COUNT(*) AS n_rows,
  COUNT(*) - COUNT({c}) AS n_nulls,
  CASE WHEN COUNT(*) > 0 THEN CAST(COUNT(*) - COUNT({c}) AS DOUBLE) / COUNT(*) ELSE 0.0 END AS null_frac,
  CAST(MIN({c}) AS VARCHAR) AS min_value, CAST(MAX({c}) AS VARCHAR) AS max_value
FROM customer"""
    for c, dt in _PROFILE_COLS
)


@query("table_profile", ("M5",), oracle=_PROFILE_ORACLE, tags=("metadata",))
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics of the customer table — null
    counts, null fraction, min/max — computed in ONE aggregation pass
    (operators/profiling.py: 4 plain agg expressions per column + a
    stack() unpivot; one scan + a 1-row shuffle at any table width).
    The deterministic arms are DuckDB-oracle-checked; the HLL distinct
    estimate is the separate rows-only twin (table_profile_hll)."""
    from open_data_lakehouse_demo_spark.operators.profiling import profile_table

    cust = t(spark, sf_dir, "customer")
    return profile_table(cust).drop("approx_distinct")


_PROFILE_HLL_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", '{dt}' AS dtype, COUNT(*) AS n_rows,
  COUNT(DISTINCT {c}) AS exact_distinct, TRUE AS hll_within_3rsd
FROM customer"""
    for c, dt in _PROFILE_COLS
)


@query(
    "table_profile_hll",
    ("M5", "A10"),
    oracle=_PROFILE_HLL_ORACLE,
    tags=("metadata", "sketch"),
)
def table_profile_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch arm of the profile: per-column approx_count_distinct
    (Spark's HyperLogLog++, rsd=0.05) from the SAME single aggregation
    pass — mergeable registers make the profile shard-parallel for free.

    Hash-checked since r7 via the ACCURACY-CONTRACT oracle (the
    distinct_users_hll pattern): the estimate itself is Spark-internal
    register math, so the query emits ``hll_within_3rsd`` =
    |est − exact| ≤ 3·rsd·exact next to the exact distinct count and
    DuckDB asserts the flag TRUE per column. The exact arm is the audit
    column; at 100 TB it runs on a sample while the sketch runs on
    everything."""
    from open_data_lakehouse_demo_spark.operators.profiling import profile_table

    cust = t(spark, sf_dir, "customer")
    prof = profile_table(cust).select("column", "dtype", "n_rows", "approx_distinct")
    # one distinct aggregate over the unpivoted values: N countDistincts
    # side by side plan as an Expand whose slot and key order follow
    # expression-id hashing, so their generated code differs every run
    # and never hits the codegen cache. Values compare as strings:
    # Spark's double-to-string round-trips, `+ 0.0D` folds -0.0 into 0.0
    # as countDistinct does, and NULLs stay NULL.
    exacts = cust.selectExpr(
        f"stack({len(_PROFILE_COLS)}, "
        + ", ".join(
            f"'{c}', CAST({c}{' + 0.0D' if dt == 'double' else ''} AS STRING)"
            for c, dt in _PROFILE_COLS
        )
        + ") AS (column, v)"
    ).groupBy("column").agg(F.countDistinct("v").alias("exact_distinct"))
    return prof.join(F.broadcast(exacts), "column").select(
        "column",
        "dtype",
        "n_rows",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 3 * 0.05 * F.col("exact_distinct")
        ).alias("hll_within_3rsd"),
    )
