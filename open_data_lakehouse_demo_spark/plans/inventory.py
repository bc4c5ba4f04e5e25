"""Named query inventory — SURVEY.md §2 re-expressed on the testdata star schema.

Every operator the reference executes (via BigQuery GoogleSQL or the PySpark
DataFrame API) appears here as a named query with:
  - an idiomatic-Spark DataFrame implementation (``spark`` callable), and
  - an equivalent ANSI-SQL oracle string runnable by DuckDB on the same
    parquet tables (``oracle``), for differential correctness testing.

Determinism & exact-hash policy (SURVEY §5):
  - money/measure sums are computed over DECIMAL(18,2) casts (exact,
    associative — immune to float summation-order differences between
    engines and between shuffle layouts) and cast back to DOUBLE at the end;
  - averages are exact-decimal sums divided by COUNT (IEEE754 double
    division is deterministic given identical operands);
  - every ranking has a total tiebreak (unique id column);
  - column aliases are identical on both sides (driver sorts by name).

Operator ids cited per query refer to SURVEY.md §2 tables; file:line cites
point into /root/reference for parity checking.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.functions.compat import (
    exact_quantiles,
    safe_divide,
    timestamp_bucket,
)
from open_data_lakehouse_demo_spark.sources.io import read_parquet, session_cached


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (nanos-timestamp-safe parquet scan),
    resolved once per session: the ``scan`` session cache is the catalog
    for the path-addressed testdata tables."""
    return session_cached(
        spark, "scan", (sf_dir, name),
        lambda: read_parquet(spark, f"{sf_dir}/{name}.parquet"),
    )


def dec(c: F.Column | str) -> F.Column:
    """Exact-money cast: DECIMAL(18,2) — see module docstring."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(18,2)")


def dsum(c: F.Column | str, alias: str) -> F.Column:
    """SUM over exact decimals, surfaced as DOUBLE."""
    return F.sum(dec(c)).cast("double").alias(alias)


@dataclass(frozen=True)
class Query:
    name: str
    operators: tuple[str, ...]
    description: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default=())


QUERIES: dict[str, Query] = {}


def query(
    name: str,
    operators: tuple[str, ...],
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = Query(
            name=name,
            operators=operators,
            description=description or (fn.__doc__ or "").strip(),
            spark=fn,
            oracle=oracle,
            tags=tags,
        )
        return fn

    return deco


# ---------------------------------------------------------------------------
# A. Aggregations (SURVEY §2.4) + filters (§2.2)
# ---------------------------------------------------------------------------

@query(
    "pricing_summary",
    ("A1", "P5", "F13", "F18", "O1"),
    oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship group-by-SUM scan (A1 — ref part0:290-299 hourly→grouped sums;
    shape of TPC-H Q1). Partial aggregation map-side, 2-col grouping key:
    one shuffle of ~|groups| rows regardless of input scale."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    charge = disc_price * (F.lit(1) + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "user_time_bounds",
    ("A2",),
    oracle="""
SELECT user_id, MIN(ts) AS min_ts, MAX(ts) AS max_ts, COUNT(*) AS n_events
FROM events GROUP BY user_id
""",
)
def user_time_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key MIN/MAX timestamps (A2 — ref part2:269-273 station bounds)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts"), F.count("*").alias("n_events"))
    )


@query(
    "nation_order_window",
    ("A2", "A3", "J2", "J3"),
    oracle="""
WITH cust_bounds AS (
  SELECT o_custkey, MIN(o_orderdate) AS min_od, MAX(o_orderdate) AS max_od
  FROM orders GROUP BY o_custkey
), joined AS (
  SELECT c.c_nationkey, b.min_od, b.max_od
  FROM customer c LEFT JOIN cust_bounds b ON c.c_custkey = b.o_custkey
)
SELECT n.n_name AS nation, MAX(j.min_od) AS latest_first_order, MIN(j.max_od) AS earliest_last_order
FROM joined j JOIN nation n ON j.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def nation_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level max-of-min/min-of-max (A3 — ref part2:288-293 line overall
    times) over a left join to per-key bounds (J2 — part2:281-283) then a
    broadcast dim join (J3 — part2:300, 25-row nation ≅ 25-row bus_lines)."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    bounds = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("min_od"), F.max("o_orderdate").alias("max_od")
    )
    joined = customer.join(bounds, customer.c_custkey == bounds.o_custkey, "left")
    return (
        joined.join(F.broadcast(nation), joined.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("min_od").alias("latest_first_order"),
            F.min("max_od").alias("earliest_last_order"),
        )
    )


@query(
    "demand_avg_recent",
    ("A4", "A6", "P9", "F6", "F7"),
    oracle="""
SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value,
  COUNT(*) AS n
FROM events
WHERE ts > (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
GROUP BY event_type, date_trunc('day', ts)
""",
)
def demand_avg_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG over a trailing window anchored at MAX(ts) (A4+A6+P9 — ref
    part3:178-191 demand query with DECLARE max_ts; F6 TIMESTAMP_SUB).
    The scalar subquery stays a Catalyst subquery: one tiny pre-pass, the
    filter then prunes at the scan."""
    events = t(spark, sf_dir, "events")
    events.createOrReplaceTempView("events")
    return spark.sql(
        """
        -- CAST back to TIMESTAMP_NTZ: Spark's date_trunc implicitly
        -- routes NTZ input through the session timezone (returns LTZ);
        -- the round-trip cast restores wall-clock truncation under any
        -- driver session tz
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP_NTZ) AS day,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value,
          COUNT(*) AS n
        FROM events
        WHERE ts > (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
        GROUP BY event_type, CAST(date_trunc('day', ts) AS TIMESTAMP_NTZ)
        """
    )


@query(
    "value_quantiles",
    ("A5", "F12"),
    oracle="""
SELECT event_type,
  quantile_cont(value, 0.00) AS q0,
  quantile_cont(value, 0.25) AS q25,
  quantile_cont(value, 0.50) AS q50,
  quantile_cont(value, 0.75) AS q75,
  quantile_cont(value, 1.00) AS q100,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events GROUP BY event_type
""",
)
def value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile profile per group (A5 — ref part3:272-289 APPROX_QUANTILES
    [OFFSET(k)] per borough). Exact percentile pinned for oracle parity
    (SURVEY §5.1); the scale path is approx_quantiles (GK sketch, mergeable,
    no global sort)."""
    events = t(spark, sf_dir, "events")
    qs = exact_quantiles("value", [0.0, 0.25, 0.5, 0.75, 1.0])
    agg = events.groupBy("event_type").agg(
        qs.alias("qs"),
        (F.sum(dec("value")).cast("double") / F.count("value")).alias("avg_value"),
    )
    return agg.select(
        "event_type",
        F.element_at("qs", 1).alias("q0"),
        F.element_at("qs", 2).alias("q25"),
        F.element_at("qs", 3).alias("q50"),
        F.element_at("qs", 4).alias("q75"),
        F.element_at("qs", 5).alias("q100"),
        "avg_value",
    )


@query(
    "collected_values",
    ("A7",),
    oracle="""
SELECT user_id,
  array_to_string(list(round_val ORDER BY round_val), ',') AS values_csv,
  COUNT(*) AS n
FROM (SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS round_val FROM events)
GROUP BY user_id
""",
)
def collected_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list canonicalized by sorting (A7 — ref pyspark-job.py:190-196
    collect_list(struct(...)); sorted + stringified here so the unordered
    hash compare is deterministic)."""
    events = t(spark, sf_dir, "events")
    return (
        events.select("user_id", dec("value").cast("string").alias("round_val"))
        .groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_list("round_val")), ",").alias("values_csv"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# B. Window / dedup / top-k (SURVEY §2.5, §2.6)
# ---------------------------------------------------------------------------

@query(
    "first_event_per_user",
    ("W1", "P7"),
    oracle="""
SELECT user_id, ts, event_type, value FROM (
  SELECT user_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
""",
)
def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_NUMBER dedup, first row per key (W1/P7 — ref part0:262-271 station
    dedup). event_id tiebreak makes the ranking total ⇒ deterministic."""
    events = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_type", "value")
    )


@query(
    "top_orders",
    ("O1", "O2"),
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (O1/O2 — ref part0:326, part1:116-122).
    Catalyst plans TakeOrderedAndProject: per-partition top-k, no total sort."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# C. Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------

@query(
    "last_lineitem_per_order",
    ("A2", "W1"),
    oracle="""
WITH last_line AS (
  SELECT l_orderkey AS k_orderkey, MAX(l_linenumber) AS k_linenumber
  FROM lineitem GROUP BY l_orderkey
)
SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, l.l_shipdate
FROM lineitem l
JOIN last_line k ON l.l_orderkey = k.k_orderkey AND l.l_linenumber = k.k_linenumber
""",
)
def last_lineitem_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join on a composite key (J1 — ref part2:431-436 rides ×
    ridership on (stop_id, timestamp)).

    r13 (guide §2.4 — remove shuffles outright): the aggregate-then-join
    form scanned lineitem twice and shuffled three times (the MAX
    aggregate's exchange + both join sides). ``rows where l_linenumber =
    MAX(l_linenumber) OVER (PARTITION BY l_orderkey)`` is the identical
    relation — (l_orderkey, l_linenumber) is unique, so the join matched
    each max row exactly once — computed with ONE scan and ONE exchange.
    Measured sf0.1: 1.15 → 0.48 s; plan 3 Exchange → 1."""
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
        .withColumn("k_linenumber", F.max("l_linenumber").over(w))
        .filter(F.col("l_linenumber") == F.col("k_linenumber"))
        .drop("k_linenumber")
    )


@query(
    "order_features",
    ("J4", "F15", "F16", "F17", "F18", "P3", "P4"),
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, n.n_name AS nation, c.c_mktsegment,
  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS net_price,
  COALESCE(l.l_extendedprice / NULLIF(l.l_quantity, 0), 0) AS unit_price,
  ABS(l.l_extendedprice - o.o_totalprice) AS price_gap,
  CASE WHEN l.l_discount > 0.05 THEN 1 ELSE 0 END AS high_discount
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_quantity IS NOT NULL AND l.l_extendedprice > 1000
""",
)
def order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema feature projection (J4 — ref part3:124-157 bus_rides
    LEFT JOIN stations/lines; F15 SAFE_DIVIDE, F16 COALESCE, F17 ABS,
    F18 arithmetic). Fact×fact shuffles on orderkey; dim joins broadcast."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & (F.col("l_extendedprice") > 1000)
    )
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("n_name").alias("nation"),
            "c_mktsegment",
            (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("double").alias("net_price"),
            F.coalesce(
                safe_divide(F.col("l_extendedprice"), F.nullif(F.col("l_quantity"), F.lit(0))),
                F.lit(0.0),
            ).alias("unit_price"),
            F.abs(F.col("l_extendedprice") - F.col("o_totalprice")).alias("price_gap"),
            F.when(F.col("l_discount") > 0.05, 1).otherwise(0).alias("high_discount"),
        )
    )


@query(
    "forecast_vs_actual",
    ("J6", "F8", "A4"),
    oracle="""
WITH actual AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS bucket, event_type,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS demand
  FROM events GROUP BY 1, 2
), forecast AS (
  SELECT bucket + INTERVAL 1 DAY AS bucket, event_type, demand AS forecast_demand
  FROM actual
)
SELECT a.bucket, a.event_type, a.demand, f.forecast_demand,
  ABS(a.demand - f.forecast_demand) AS abs_error
FROM actual a JOIN forecast f
  ON a.bucket = f.bucket AND a.event_type = f.event_type
""",
)
def forecast_vs_actual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join on a derived bucket column (J6 — ref part3:612-629 forecast ts =
    TIMESTAMP_BUCKET(actual ts); F8).

    Plan note: the naive form (aggregate, then self-join actual vs
    bucket-shifted actual) scans events twice and shuffles four times —
    the shifted side's exchange keys differ, so ReuseExchange can't help.
    Since "forecast" is the same measure at a shifted key, fan each event
    into its two roles map-side (explode is a generator: no shuffle) and
    aggregate ONCE: one scan, one shuffle, and the inner-join semantics
    fall out of requiring both role sums non-null. Decimal partial sums
    keep the result bit-identical to the join form at any parallelism."""
    events = t(spark, sf_dir, "events")
    b = timestamp_bucket("ts", 300).cast("timestamp_ntz")
    fanned = events.select(
        F.explode(
            F.array(
                F.struct(b.alias("bucket"), F.lit("a").alias("role")),
                F.struct(
                    (b + F.expr("INTERVAL 1 DAY")).alias("bucket"),
                    F.lit("f").alias("role"),
                ),
            )
        ).alias("x"),
        "event_type",
        dec("value").alias("v"),
    )
    agg = fanned.groupBy(F.col("x.bucket").alias("bucket"), F.col("event_type")).agg(
        F.sum(F.when(F.col("x.role") == "a", F.col("v"))).cast("double").alias("demand"),
        F.sum(F.when(F.col("x.role") == "f", F.col("v")))
        .cast("double")
        .alias("forecast_demand"),
    )
    return agg.filter(
        F.col("demand").isNotNull() & F.col("forecast_demand").isNotNull()
    ).select(
        "bucket",
        "event_type",
        "demand",
        "forecast_demand",
        F.abs(F.col("demand") - F.col("forecast_demand")).alias("abs_error"),
    )


@query(
    "actual_vs_two_forecasts",
    ("J7", "F8", "F16", "F17"),
    oracle="""
WITH actual AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS bucket, event_type,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS demand
  FROM events GROUP BY 1, 2
), f_day AS (
  SELECT bucket + INTERVAL 1 DAY AS bucket, event_type, demand AS f_day_demand FROM actual
), f_week AS (
  SELECT bucket + INTERVAL 7 DAY AS bucket, event_type, demand AS f_week_demand FROM actual
)
SELECT a.bucket, a.event_type, a.demand,
  COALESCE(d.f_day_demand, 0) AS f_day_demand,
  COALESCE(w.f_week_demand, 0) AS f_week_demand,
  ABS(a.demand - COALESCE(d.f_day_demand, 0)) AS day_abs_error,
  ABS(a.demand - COALESCE(w.f_week_demand, 0)) AS week_abs_error
FROM actual a
LEFT JOIN f_day d ON a.bucket = d.bucket AND a.event_type = d.event_type
LEFT JOIN f_week w ON a.bucket = w.bucket AND a.event_type = w.event_type
""",
)
def actual_vs_two_forecasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way chained left joins over CTEs (J7 — ref part3:732-785 actual
    LEFT JOIN timesfm LEFT JOIN arima on 3 keys).

    Same single-scan pivot as forecast_vs_actual, with THREE roles
    (actual / +1d forecast / +7d forecast): the chained-left-join form
    scans events three times and shuffles six times; this fans ×3 map-side
    and aggregates once. Left-join semantics = keep rows whose actual sum
    exists; missing forecasts coalesce to 0. timestamp_bucket is tz-free
    (field arithmetic), so DST-gap wall times can't corrupt buckets."""
    events = t(spark, sf_dir, "events")
    b = timestamp_bucket("ts", 300).cast("timestamp_ntz")
    fanned = events.select(
        F.explode(
            F.array(
                F.struct(b.alias("bucket"), F.lit("a").alias("role")),
                F.struct(
                    (b + F.expr("INTERVAL 1 DAY")).alias("bucket"),
                    F.lit("d").alias("role"),
                ),
                F.struct(
                    (b + F.expr("INTERVAL 7 DAY")).alias("bucket"),
                    F.lit("w").alias("role"),
                ),
            )
        ).alias("x"),
        "event_type",
        dec("value").alias("v"),
    )
    agg = fanned.groupBy(F.col("x.bucket").alias("bucket"), F.col("event_type")).agg(
        F.sum(F.when(F.col("x.role") == "a", F.col("v"))).cast("double").alias("demand"),
        F.sum(F.when(F.col("x.role") == "d", F.col("v"))).cast("double").alias("f_day"),
        F.sum(F.when(F.col("x.role") == "w", F.col("v"))).cast("double").alias("f_week"),
    )
    return agg.filter(F.col("demand").isNotNull()).select(
        "bucket",
        "event_type",
        "demand",
        F.coalesce("f_day", F.lit(0.0)).alias("f_day_demand"),
        F.coalesce("f_week", F.lit(0.0)).alias("f_week_demand"),
        F.abs(F.col("demand") - F.coalesce("f_day", F.lit(0.0))).alias("day_abs_error"),
        F.abs(F.col("demand") - F.coalesce("f_week", F.lit(0.0))).alias("week_abs_error"),
    )


# ---------------------------------------------------------------------------
# D. Lateral fan-out + conservation invariant (SURVEY J8, J5, F10-F14)
# ---------------------------------------------------------------------------

_MINUTE_FANOUT_ORACLE = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
  hour_ts + minute_offset * INTERVAL 1 MINUTE AS minute_ts,
  (n // 60) + (CASE WHEN (n % 60) > minute_offset THEN 1 ELSE 0 END) AS n_minute
FROM hourly, (SELECT unnest(generate_series(0, 59)) AS minute_offset)
"""


@query(
    "minute_fanout",
    ("J8", "F5", "F7", "F10", "F11", "F13", "F14"),
    oracle=_MINUTE_FANOUT_ORACLE,
)
def minute_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour→minute fan-out with even spreading (J8 — ref part0:312-326:
    UNNEST(GENERATE_ARRAY(0,59)) lateral ×60, FLOOR/MOD/CASE remainder
    spread, F5 TIMESTAMP_ADD). explode(sequence(...)) is a generator inside
    the same stage — no shuffle for the fan-out itself."""
    events = t(spark, sf_dir, "events")
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_ts")
    ).agg(F.count("*").alias("n"))
    return (
        hourly.select(
            "user_id",
            "hour_ts",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(59))).alias("minute_offset"),
        )
        .select(
            "user_id",
            # timestampadd: pure long micros arithmetic on ntz — ~3× faster
            # per row than make_interval's decimal-seconds path
            F.expr("timestampadd(MINUTE, minute_offset, hour_ts)").alias("minute_ts"),
            (
                (F.col("n") / 60).cast("long")
                + F.when(F.pmod(F.col("n"), F.lit(60)) > F.col("minute_offset"), 1).otherwise(0)
            ).alias("n_minute"),
        )
    )


@query(
    "hourly_conservation_check",
    # J1 carrier since r13: last_lineitem_per_order's aggregate-then-join
    # was rewritten as a window (identical rows, 1 scan / 1 exchange), so
    # the composite-key big×big inner join operator is carried by this
    # query's (user_id, hour_ts) verification join instead.
    ("J1", "J5", "P6", "A1"),
    oracle=f"""
WITH minutely AS ({_MINUTE_FANOUT_ORACLE}),
re_agg AS (
  SELECT user_id, date_trunc('hour', minute_ts) AS hour_ts,
         CAST(SUM(n_minute) AS BIGINT) AS n_re
  FROM minutely GROUP BY 1, 2
),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT h.user_id, h.hour_ts, h.n, r.n_re
FROM hourly h JOIN re_agg r ON h.user_id = r.user_id AND h.hour_ts = r.hour_ts
WHERE h.n != r.n_re
""",
)
def hourly_conservation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one real correctness assertion (J5 — part0:334-358):
    re-aggregate the minute-grain fan-out back to hours and join against the
    hourly source; mismatches must be empty (0 rows)."""
    # Same fan-out logic as minute_fanout, but the re-aggregation groups by
    # the carried hour_ts: date_trunc('hour', hour_ts + m minutes) ≡ hour_ts
    # for m ∈ [0,60) is an algebraic identity, and skipping the per-row
    # re-truncation keeps the 60× generated stream in pure integer codegen
    # (measured 38s → ~4s at sf0.1). The DuckDB oracle still re-truncates.
    events0 = t(spark, sf_dir, "events")
    hourly0 = events0.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_ts")
    ).agg(F.count("*").alias("n"))
    minutely = hourly0.select(
        "user_id",
        "hour_ts",
        "n",
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("minute_offset"),
    ).select(
        "user_id",
        "hour_ts",
        (
            (F.col("n") / 60).cast("long")
            + F.when(F.pmod(F.col("n"), F.lit(60)) > F.col("minute_offset"), 1).otherwise(0)
        ).alias("n_minute"),
    )
    re_agg = minutely.groupBy("user_id", "hour_ts").agg(F.sum("n_minute").alias("n_re"))
    events = t(spark, sf_dir, "events")
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_ts")
    ).agg(F.count("*").alias("n"))
    h, r = hourly.alias("h"), re_agg.alias("r")
    return (
        h.join(
            r,
            (F.col("h.user_id") == F.col("r.user_id")) & (F.col("h.hour_ts") == F.col("r.hour_ts")),
        )
        .filter(F.col("h.n") != F.col("r.n_re"))
        .select(F.col("h.user_id").alias("user_id"), F.col("h.hour_ts").alias("hour_ts"), "n", "n_re")
    )


# ---------------------------------------------------------------------------
# D2. Gap-fill (SURVEY §2.9 U5 — summarized_features, ref part3:458-483)
# ---------------------------------------------------------------------------

@query(
    "summarized_demand_gapfill",
    ("U5", "F8", "A4"),
    oracle="""
WITH agg AS (
  SELECT event_type, time_bucket(INTERVAL 5 MINUTE, ts) AS bucket,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS demand
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(bucket) AS min_b, MAX(bucket) AS max_b FROM agg GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(min_b, max_b, INTERVAL 5 MINUTE)) AS bucket
  FROM bounds
), j AS (
  SELECT g.event_type, g.bucket,
         CAST(epoch(g.bucket) AS BIGINT) // 300 AS pos,
         a.demand
  FROM grid g LEFT JOIN agg a ON g.event_type = a.event_type AND g.bucket = a.bucket
), f AS (
  SELECT *,
    last_value(demand IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(CASE WHEN demand IS NOT NULL THEN pos END IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_pos,
    first_value(demand IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY pos
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN demand IS NOT NULL THEN pos END IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY pos
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pos
  FROM j
)
SELECT event_type, bucket,
  CASE WHEN demand IS NOT NULL THEN demand
       ELSE prev_v + (next_v - prev_v) *
            (CAST(pos - prev_pos AS DOUBLE) / CAST(next_pos - prev_pos AS DOUBLE))
  END AS demand
FROM f
""",
)
def summarized_demand_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's summarized_features pipeline (part3:458-483): 5-min
    TIMESTAMP_BUCKET aggregate per series, then GAP_FILL with linear
    interpolation (U5). Spark implementation: operators/gapfill.py —
    posexplode(sequence) densification + two one-pass ignore-null windows."""
    from open_data_lakehouse_demo_spark.operators.gapfill import gap_fill

    events = t(spark, sf_dir, "events")
    agg = (
        events.groupBy(
            "event_type",
            timestamp_bucket("ts", 300).cast("timestamp_ntz").alias("bucket"),
        )
        .agg(F.sum(dec("value")).cast("double").alias("demand"))
    )
    return gap_fill(
        agg,
        ts_column="bucket",
        bucket_width_seconds=300,
        partitioning_columns=["event_type"],
        value_columns={"demand": "linear"},
    )


# ---------------------------------------------------------------------------
# D3. Forecasting (SURVEY §2.9 U4 — ML.FORECAST / ML.EVALUATE interface)
# ---------------------------------------------------------------------------

_DAILY_SERIES_SQL = """
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         SUM(CAST(value AS DECIMAL(18,2))) AS demand
  FROM events GROUP BY 1, 2
"""

_LINEAR_FORECAST_ORACLE = f"""
WITH series AS ({_DAILY_SERIES_SQL}),
indexed AS (
  -- widths chosen so DuckDB's decimal multiplies stay in hugeint range
  -- (operand width ≥19 forces the hugeint path) while products stay ≤38
  SELECT event_type, day,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS DECIMAL(9,0)) AS x,
         CAST(demand AS DECIMAL(19,2)) AS y
  FROM series
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS DECIMAL(4,0)) AS n, MAX(day) AS last_ts,
         CAST(SUM(x) AS DECIMAL(8,0)) AS sx,
         CAST(SUM(x*x) AS DECIMAL(12,0)) AS sxx,
         CAST(SUM(y) AS DECIMAL(24,2)) AS sy,
         CAST(SUM(x*y) AS DECIMAL(24,2)) AS sxy,
         CAST(SUM(y*y) AS DECIMAL(30,4)) AS syy
  FROM indexed GROUP BY 1
), fitted AS (
  SELECT event_type, last_ts, CAST(n AS DOUBLE) AS nd,
    CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
  FROM agg
), f2 AS (SELECT *, (syd - slope*sxd)/nd AS intercept FROM fitted),
f3 AS (SELECT *, syyd - intercept*syd - slope*sxyd AS sse FROM f2),
f4 AS (
  SELECT *, CASE WHEN nd > 2 THEN sqrt(greatest(sse, 0.0)/(nd-2)) ELSE 0.0 END AS standard_error
  FROM f3
)
SELECT event_type,
  last_ts + h * INTERVAL 1 DAY AS forecast_timestamp,
  intercept + slope * (nd - 1 + h) AS forecast_value,
  standard_error,
  CAST(0.95 AS DOUBLE) AS confidence_level,
  (intercept + slope * (nd - 1 + h)) - 1.959963984540054 * standard_error
    AS prediction_interval_lower_bound,
  (intercept + slope * (nd - 1 + h)) + 1.959963984540054 * standard_error
    AS prediction_interval_upper_bound
FROM f4, (SELECT unnest(generate_series(1, 7)) AS h)
"""


@query("linear_trend_forecast_daily", ("U4", "A4", "F7"), oracle=_LINEAR_FORECAST_ORACLE)
def linear_trend_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML.FORECAST-interface forecast (U4 — ref part3:557-578): daily demand
    per event_type → 7-day horizon with 95% bounds. Closed-form OLS trend
    over exact decimal sums (operators/forecast.py) ⇒ oracle-hashable."""
    from open_data_lakehouse_demo_spark.operators.forecast import linear_trend_forecast

    events = t(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
    ).agg(F.sum(dec("value")).alias("demand"))
    return linear_trend_forecast(
        series,
        id_cols=["event_type"],
        ts_col="day",
        data_col="demand",
        horizon=7,
        bucket_seconds=86400,
        confidence_level=0.95,
    )


@query("ar_forecast_daily", ("U4", "A8"))
def ar_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(p)+trend per-series forecast via numpy-lstsq applyInPandas (U4 —
    the ARIMA_PLUS analogue; grouped-map shape of ref part2:578-580).
    Iterative recursion isn't SQL-expressible → rows-only driver check;
    statistical behavior is pytest-verified (tests/test_forecast.py)."""
    from open_data_lakehouse_demo_spark.operators.forecast import ar_forecast

    events = t(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
    ).agg(F.sum(dec("value")).cast("double").alias("demand"))
    return ar_forecast(
        series,
        id_cols=["event_type"],
        ts_col="day",
        data_col="demand",
        horizon=7,
        bucket_seconds=86400,
    )


@query("auto_ar_xreg_forecast_daily", ("U4", "A8"))
def auto_ar_xreg_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO_ARIMA-style order selection + exogenous regressors (U4 — the
    ARIMA_PLUS_XREG interface, ref part3:510-532 AUTO_ARIMA=TRUE with
    covariates): per-series AIC grid over p ∈ {1..5} plus daily event
    count as an xreg column in the design matrix. Iterative recursion +
    lstsq aren't SQL-expressible → rows-only driver check; order-recovery
    and xreg behavior are pytest-verified (tests/test_forecast.py)."""
    from open_data_lakehouse_demo_spark.operators.forecast import ar_forecast

    events = t(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
    ).agg(
        F.sum(dec("value")).cast("double").alias("demand"),
        F.count("*").cast("double").alias("n_events"),
    )
    return ar_forecast(
        series,
        id_cols=["event_type"],
        ts_col="day",
        data_col="demand",
        horizon=7,
        bucket_seconds=86400,
        order=5,
        auto_order=True,
        xreg_cols=["n_events"],
    )


@query(
    "forecast_eval_metrics",
    ("U4", "J6"),
    oracle=f"""
WITH series AS ({_DAILY_SERIES_SQL}),
split AS (SELECT MAX(day) - INTERVAL 7 DAY AS cutoff FROM series),
train_indexed AS (
  SELECT event_type, day,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS DECIMAL(9,0)) AS x,
         CAST(demand AS DECIMAL(19,2)) AS y
  FROM series WHERE day <= (SELECT cutoff FROM split)
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS DECIMAL(4,0)) AS n, MAX(day) AS last_ts,
         CAST(SUM(x) AS DECIMAL(8,0)) AS sx,
         CAST(SUM(x*x) AS DECIMAL(12,0)) AS sxx,
         CAST(SUM(y) AS DECIMAL(24,2)) AS sy,
         CAST(SUM(x*y) AS DECIMAL(24,2)) AS sxy
  FROM train_indexed GROUP BY 1
), fitted AS (
  SELECT event_type, last_ts, CAST(n AS DOUBLE) AS nd,
    CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM agg
), f2 AS (SELECT *, (syd - slope*sxd)/nd AS intercept FROM fitted),
forecast AS (
  -- scale 3: a binary double is never an exact decimal tie, so this
  -- rounding is unambiguous and identical across engines; err then has
  -- scale 3, err² scale 6, and every downstream sum fits exactly in 2^53
  -- so each decimal→double conversion is a single correct rounding.
  SELECT event_type, last_ts + h * INTERVAL 1 DAY AS day,
    CAST(intercept + slope * (nd - 1 + h) AS DECIMAL(15,3)) AS fv
  FROM f2, (SELECT unnest(generate_series(1, 7)) AS h)
),
joined AS (
  -- (19,3) here vs (16,3) on the Spark side: DuckDB needs width ≥19 to take
  -- the hugeint multiply path; Spark needs ≤18 to avoid scale reduction.
  -- Exact values are identical — only the declared widths differ.
  SELECT s.event_type,
         CAST(CAST(s.demand AS DECIMAL(18,3)) - f.fv AS DECIMAL(19,3)) AS err
  FROM series s JOIN forecast f ON s.event_type = f.event_type AND s.day = f.day
)
SELECT event_type,
  CAST(SUM(ABS(err)) AS DOUBLE) / COUNT(*) AS mean_absolute_error,
  CAST(SUM(err * err) AS DOUBLE) / COUNT(*) AS mean_squared_error,
  sqrt(CAST(SUM(err * err) AS DOUBLE) / COUNT(*)) AS root_mean_squared_error,
  COUNT(*) AS n_points
FROM joined GROUP BY event_type
""",
)
def forecast_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML.EVALUATE-interface metrics (U4 — ref part3:539-553, 584-633):
    hold out the last 7 days, forecast them with the linear-trend model,
    join forecast to actuals (J6) and compute MAE/MSE/RMSE per series over
    exact decimal errors."""
    from open_data_lakehouse_demo_spark.operators.forecast import linear_trend_forecast
    from open_data_lakehouse_demo_spark.sources.io import materialize

    events = t(spark, sf_dir, "events")
    # series feeds the cutoff scalar, the training fit AND the eval join —
    # materialize once (3 fact scans → 1; sources/io.py materialize)
    series = materialize(
        events.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
        ).agg(F.sum(dec("value")).alias("demand"))
    )
    cutoff = series.agg((F.max("day") - F.expr("INTERVAL 7 DAY")).alias("c"))
    train = series.join(F.broadcast(cutoff)).filter(F.col("day") <= F.col("c")).drop("c")
    fc = linear_trend_forecast(
        train, ["event_type"], "day", "demand", horizon=7, bucket_seconds=86400
    ).select(
        "event_type",
        F.col("forecast_timestamp").alias("day"),
        # scale 3 (see oracle comment): unambiguous double→decimal rounding,
        # keeps err² sums exactly double-representable
        F.col("forecast_value").cast("decimal(15,3)").alias("fv"),
    )
    joined = series.select(
        "event_type", "day", F.col("demand").cast("decimal(18,3)").alias("y")
    ).join(fc, on=["event_type", "day"], how="inner")
    err = (F.col("y") - F.col("fv")).cast("decimal(16,3)")
    sq = F.sum(err * err).cast("double")
    return joined.groupBy("event_type").agg(
        (F.sum(F.abs(err)).cast("double") / F.count("*")).alias("mean_absolute_error"),
        (sq / F.count("*")).alias("mean_squared_error"),
        F.sqrt(sq / F.count("*")).alias("root_mean_squared_error"),
        F.count("*").alias("n_points"),
    )


_SEASONAL_FORECAST_ORACLE = f"""
WITH series AS ({_DAILY_SERIES_SQL}),
indexed AS (
  SELECT event_type, day,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS DECIMAL(9,0)) AS x,
         CAST(demand AS DECIMAL(19,6)) AS y
  FROM series
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS DECIMAL(4,0)) AS n, MAX(day) AS last_ts,
         CAST(SUM(x) AS DECIMAL(8,0)) AS sx,
         CAST(SUM(x*x) AS DECIMAL(12,0)) AS sxx,
         CAST(SUM(y) AS DECIMAL(24,6)) AS sy,
         CAST(SUM(x*y) AS DECIMAL(28,6)) AS sxy
  FROM indexed GROUP BY 1
), fitted AS (
  SELECT event_type, last_ts, CAST(n AS DOUBLE) AS nd,
    CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM agg
), f2 AS (SELECT *, (syd - slope*sxd)/nd AS intercept FROM fitted),
resid AS (
  -- DECIMAL(28,10) rounding of a double can never tie (5^k denominator),
  -- so both engines round identically and seasonal sums are exact
  SELECT i.event_type, CAST(CAST(i.x AS INT) % 7 AS INT) AS phase,
         CAST(CAST(i.y AS DOUBLE) - (f.intercept + f.slope * CAST(i.x AS DOUBLE))
              AS DECIMAL(28,10)) AS r
  FROM indexed i JOIN f2 f ON i.event_type = f.event_type
), seasonal AS (
  SELECT event_type, phase, CAST(SUM(r) AS DOUBLE) / COUNT(*) AS s
  FROM resid GROUP BY 1, 2
), r2 AS (
  -- (19,3) vs Spark's (16,3): width ≥19 forces this engine's hugeint
  -- multiply path; scale 3 keeps Σr2² exactly double-representable
  SELECT r.event_type,
         CAST(CAST(r.r AS DOUBLE) - se.s AS DECIMAL(19,3)) AS r2
  FROM resid r JOIN seasonal se ON r.event_type = se.event_type AND r.phase = se.phase
), sse AS (
  SELECT event_type, CAST(SUM(r2 * r2) AS DOUBLE) AS sse2, COUNT(*) AS n2
  FROM r2 GROUP BY 1
), sedf AS (
  SELECT event_type,
    CASE WHEN n2 - 9 > 0 THEN sqrt(greatest(sse2, 0.0) / CAST(n2 - 9 AS DOUBLE))
         ELSE 0.0 END AS standard_error
  FROM sse
), hor AS (
  SELECT f.event_type, f.last_ts, f.nd, f.slope, f.intercept, sd.standard_error, h,
         f.nd - 1 + h AS xf,
         CAST(CAST(f.nd - 1 + h AS BIGINT) % 7 AS INT) AS phase
  FROM f2 f JOIN sedf sd ON f.event_type = sd.event_type,
       (SELECT unnest(generate_series(1, 7)) AS h)
)
SELECT hor.event_type,
  last_ts + h * INTERVAL 1 DAY AS forecast_timestamp,
  intercept + slope * xf + COALESCE(se.s, 0.0) AS forecast_value,
  standard_error,
  CAST(0.95 AS DOUBLE) AS confidence_level,
  (intercept + slope * xf + COALESCE(se.s, 0.0)) - 1.959963984540054 * standard_error
    AS prediction_interval_lower_bound,
  (intercept + slope * xf + COALESCE(se.s, 0.0)) + 1.959963984540054 * standard_error
    AS prediction_interval_upper_bound
FROM hor LEFT JOIN seasonal se
  ON hor.event_type = se.event_type AND hor.phase = se.phase
"""


@query("seasonal_forecast_daily", ("U4", "A4", "F9"), oracle=_SEASONAL_FORECAST_ORACLE)
def seasonal_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARIMA_PLUS-style seasonal forecast (U4 — ref part3:510-532 weekly
    seasonality): additive OLS trend + day-of-week seasonal decomposition,
    closed form over exact decimal sums (operators/forecast.py
    seasonal_trend_forecast) ⇒ oracle-hashable."""
    from open_data_lakehouse_demo_spark.operators.forecast import seasonal_trend_forecast

    events = t(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
    ).agg(F.sum(dec("value")).alias("demand"))
    return seasonal_trend_forecast(
        series,
        id_cols=["event_type"],
        ts_col="day",
        data_col="demand",
        horizon=7,
        bucket_seconds=86400,
        period=7,
        confidence_level=0.95,
    )


# ---------------------------------------------------------------------------
# E. Scalar-function gauntlet (SURVEY §2.7)
# ---------------------------------------------------------------------------

@query(
    "scalar_gauntlet",
    ("F1", "F2", "F4", "F7", "F9", "F13", "F14", "F19"),
    oracle="""
SELECT event_id,
  CAST(trunc(value) AS BIGINT) AS value_int,
  REPLACE(event_type, 'click', 'tap') AS replaced_type,
  date_trunc('hour', ts) AS hour_ts,
  CAST(EXTRACT(MONTH FROM ts) AS INT) AS month,
  CAST(EXTRACT(DOW FROM ts) + 1 AS INT) AS dow_sunday1,
  CAST(FLOOR(value / 60) AS BIGINT) AS div60,
  value % 60 AS mod60,
  ROUND(value, 1) AS rounded,
  CASE WHEN value > 50 THEN 'high' WHEN value > 10 THEN 'mid' ELSE 'low' END AS band,
  CAST(props->>'$.k' AS BIGINT) AS k
FROM events
""",
)
def scalar_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One projection exercising the §2.7 scalar-function map: F1 CAST,
    F2 REPLACE (part0:257), F7 TIMESTAMP_TRUNC, F9 EXTRACT(MONTH/DAYOFWEEK,
    GoogleSQL 1=Sunday — part3:361,378-386), F13 FLOOR/MOD/ROUND, F14 CASE,
    F19 JSON extraction (pyspark-job.py:135-138). All JVM expressions in one
    codegen stage."""
    events = t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.col("value").cast("bigint").alias("value_int"),  # truncates toward zero, = trunc()
        F.replace(F.col("event_type"), F.lit("click"), F.lit("tap")).alias("replaced_type"),
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_ts"),
        F.month("ts").alias("month"),
        F.dayofweek("ts").alias("dow_sunday1"),
        F.floor(F.col("value") / 60).alias("div60"),
        (F.col("value") % 60).alias("mod60"),
        F.round(F.col("value"), 1).alias("rounded"),
        F.when(F.col("value") > 50, "high")
        .when(F.col("value") > 10, "mid")
        .otherwise("low")
        .alias("band"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


# ---------------------------------------------------------------------------
# Registration of the extended inventories (import side effect populates
# QUERIES; placed at module end so the decorator infrastructure above is
# fully defined).
# ---------------------------------------------------------------------------

from open_data_lakehouse_demo_spark.plans import inventory_docs  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_vectors  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_text  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_streaming  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_sim  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_multimodal  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_corpus  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_profiles  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_extended  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_sketches  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_temporal  # noqa: E402,F401
from open_data_lakehouse_demo_spark.plans import inventory_windows  # noqa: E402,F401
