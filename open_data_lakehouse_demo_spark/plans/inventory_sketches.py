"""Query inventory — mergeable-sketch scale paths.

The exact twins (value_quantiles, COUNT(DISTINCT) in revenue_rollup) are
oracle-checked elsewhere; at 100 TB the production path is the mergeable
sketch: one pass, bounded memory, partial-aggregates map-side, no global
sort. Two tiers here:

  - ENGINE-INTERNAL sketches (approx_count_distinct HLL++, Greenwald-
    Khanna approx_percentile) — the algorithms live inside Spark, so the
    driver can only rows-check them; accuracy vs the exact twins is
    pytest-asserted (tests/test_sketches.py).
  - PORTABLE sketches (md5-register HLL, fixed-width histogram
    quantiles) — the sketch arithmetic is spelled out in portable
    expressions (exact dyadic register sums, shared interpolation
    formulas), so the SAME sketch runs in DuckDB and the driver
    value-hash verifies them end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.functions.compat import approx_quantiles
from open_data_lakehouse_demo_spark.plans.inventory import query, t


_GK_ORACLE = """
SELECT event_type,
       MIN(value) AS q0,
       MAX(value) AS q100,
       TRUE AS rank_ok_q25,
       TRUE AS rank_ok_q50,
       TRUE AS rank_ok_q75
FROM events GROUP BY event_type
"""

# percentile_approx accuracy=10000 ⇒ Greenwald-Khanna rank error ≤ n/10000
_GK_EPS = 1.0 / 10000.0


@query("value_quantiles_sketch", ("A5",), oracle=_GK_ORACLE, tags=("sketch",))
def value_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX_QUANTILES via the Greenwald-Khanna sketch (the ref's actual
    function — part3:272-289; the exact twin `value_quantiles` carries
    the value-level oracle).

    Hash-checked since r7 via the GK ACCURACY CONTRACT (the same
    oracle-ized-bound pattern as distinct_users_hll): the sketch values
    are Spark-internal, but GK's published guarantee — the returned
    element's rank is within ε·n of the target rank — is checkable, so
    the query re-ranks each returned quantile against the group
    (count(<x), count(≤x): the element's rank INTERVAL under ties) and
    emits ``rank_ok_q{25,50,75}`` = interval intersects
    [⌈p·n⌉ − εn − 1, ⌈p·n⌉ + εn + 1]; p=0/100 are exact min/max and
    oracle-checked by value. DuckDB asserts the flags TRUE — a sketch
    regression (or an accuracy-parameter change) flips them red. The
    re-rank join is the audit arm; at 100 TB it runs on a sample."""
    events = t(spark, sf_dir, "events")
    qs = approx_quantiles("value", [0.0, 0.25, 0.5, 0.75, 1.0])
    agg = events.groupBy("event_type").agg(qs.alias("qs"), F.count("*").alias("n"))
    vals = agg.select(
        "event_type",
        "n",
        *[
            F.element_at("qs", i + 1).alias(f"q{p}")
            for i, p in enumerate((0, 25, 50, 75, 100))
        ],
    )
    joined = events.select("event_type", "value").join(F.broadcast(vals), "event_type")
    ranks = joined.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.first("q0").alias("q0"),
        F.first("q100").alias("q100"),
        *[
            F.sum((F.col("value") < F.col(f"q{p}")).cast("long")).alias(f"lt{p}")
            for p in (25, 50, 75)
        ],
        *[
            F.sum((F.col("value") <= F.col(f"q{p}")).cast("long")).alias(f"le{p}")
            for p in (25, 50, 75)
        ],
    )

    def rank_ok(p: int):
        target = F.ceil(F.col("n") * F.lit(p / 100.0))
        slack = F.col("n") * F.lit(_GK_EPS) + F.lit(1.0)
        # returned element occupies rank interval [lt+1, le]; the GK
        # guarantee holds if it intersects [target - slack, target + slack]
        return (F.col(f"le{p}") >= target - slack) & (
            F.col(f"lt{p}") + 1 <= target + slack
        )

    return ranks.select(
        "event_type",
        "q0",
        "q100",
        rank_ok(25).alias("rank_ok_q25"),
        rank_ok(50).alias("rank_ok_q50"),
        rank_ok(75).alias("rank_ok_q75"),
    )


_HLL_BOUND_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n_events,
       TRUE AS hll_within_3rsd
FROM events GROUP BY event_type
"""


@query("distinct_users_hll", ("A10",), oracle=_HLL_BOUND_ORACLE, tags=("sketch",))
def distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event type — the mergeable
    scale path for the exact COUNT(DISTINCT) in revenue_rollup (A10).

    Hash-checked since r7 via an ACCURACY-CONTRACT oracle: the raw
    estimate is Spark-internal register math no other engine reproduces
    (the `_portable` twin below carries the bit-exact parity burden), so
    the driver-checkable surface is the bound itself — the query emits
    ``hll_within_3rsd`` = |est − exact| ≤ 3·rsd·exact alongside the
    exact count, and the oracle asserts it TRUE. A Spark upgrade that
    broke the sketch (or an rsd regression) flips the flag and fails the
    hash gate. Measured error on this data: ≤0.4% at every SF vs the 6%
    bound. The exact-count audit column is the same one-sided-audit
    pattern as bloom_decontaminate's false_positive; at 100 TB the audit
    arm runs on a sample, the sketch on everything."""
    events = t(spark, sf_dir, "events")
    # One row per (event_type, user_id) first: the exact count is then a
    # plain count and the sketch sees each user once. A countDistinct
    # beside the sketch would instead make Spark build and shuffle a
    # partial HLL++ buffer per (event_type, user_id) group. The estimate
    # is unchanged: registers keep a per-bucket maximum, so duplicates
    # never move them (Spark's HLL++ is dense-only).
    per_user = events.groupBy("event_type", "user_id").count()
    agg = per_user.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("est"),
        F.count("user_id").alias("exact_users"),
        F.sum("count").alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 3 * 0.02 * F.col("exact_users")
        ).alias("hll_within_3rsd"),
    )


_HLL_PORTABLE_ORACLE = """
WITH hashed AS (
  SELECT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
), slotted AS (
  SELECT event_type, h % 256 AS bkt, h // 256 AS w FROM hashed
), rho AS (
  SELECT event_type, bkt,
         CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
  FROM slotted
), regs AS (
  SELECT event_type, bkt, MAX(rho) AS r, COUNT(*) AS cnt
  FROM rho GROUP BY 1, 2
), per_type AS (
  SELECT event_type,
         COUNT(*) AS npresent,
         SUM(1.0 / CAST(1::BIGINT << r AS DOUBLE)) AS sum_inv,
         CAST(SUM(cnt) AS BIGINT) AS n_events
  FROM regs GROUP BY 1
)
SELECT event_type,
  CAST(CASE
    WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / (sum_inv + (256 - npresent)) <= 640.0
         AND npresent < 256
    THEN round(256.0 * ln(256.0 / (256 - npresent)))
    ELSE round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / (sum_inv + (256 - npresent)))
  END AS BIGINT) AS est_users,
  n_events
FROM per_type
"""


@query(
    "distinct_users_hll_portable",
    ("A10",),
    oracle=_HLL_PORTABLE_ORACLE,
    tags=("sketch",),
)
def distinct_users_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with PORTABLE register math — the mergeable
    distinct-count sketch as a fully oracle-HASHED operator (the built-in
    ``approx_count_distinct`` twin above is engine-internal and can only be
    rows-checked).

    Construction (m=256 registers): 60-bit md5-derived hash → bucket =
    low 8 bits, rho = leading-zero rank of the 52-bit tail (bin-length
    arithmetic — no float log in the register path), register = MAX(rho)
    per bucket — ONE extra tiny shuffle over a plain groupBy. All
    register-sum arithmetic is exact dyadic rationals (1 / 2^r), so both
    engines produce bit-identical sums; the final estimate is a chain of
    correctly-rounded IEEE ops (the ln() small-range branch only fires at
    tiny cardinalities and is verified across SFs in tests).

    Scale: registers partial-aggregate map-side (256 buckets × type), so
    the shuffle carries at most m rows per group regardless of input size —
    the standard mergeable-sketch contract, here with cross-engine parity.
    """
    events = t(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    # integer div/mod only — the 60-bit hash must never route through
    # double (values past 2^53 would lose low bits)
    slotted = events.select(
        "event_type", (h % 256).alias("bkt"), h.alias("h")
    ).select("event_type", "bkt", F.expr("h div 256").alias("w"))
    rho = slotted.select(
        "event_type",
        "bkt",
        F.when(F.col("w") == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin(F.col("w"))))
        .alias("rho"),
    )
    regs = rho.groupBy("event_type", "bkt").agg(
        F.max("rho").alias("r"), F.count("*").alias("cnt")
    )
    inv = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(r AS INT)) AS DOUBLE)"
    )
    per_type = regs.groupBy("event_type").agg(
        F.count("*").alias("npresent"),
        F.sum(inv).alias("sum_inv"),
        F.sum("cnt").cast("bigint").alias("n_events"),
    )
    raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
        * F.lit(65536.0)
        / (F.col("sum_inv") + (F.lit(256) - F.col("npresent")))
    )
    linear = F.round(
        F.lit(256.0) * F.log(F.lit(256.0) / (F.lit(256) - F.col("npresent")))
    )
    est = (
        F.when((raw <= 640.0) & (F.col("npresent") < 256), linear)
        .otherwise(F.round(raw))
        .cast("bigint")
    )
    return per_type.select("event_type", est.alias("est_users"), "n_events")


_NBINS = 64

_HIST_QUANTILES_ORACLE = f"""
WITH bounds AS (
  SELECT min(value) AS vmin, max(value) AS vmax FROM events
), binned AS (
  SELECT event_type,
         CAST(least(floor((value - b.vmin) / ((b.vmax - b.vmin) / {_NBINS}.0)),
                    {_NBINS - 1}.0) AS INT) AS bin,
         COUNT(*) AS cnt
  FROM events, bounds b
  GROUP BY 1, 2
), cum AS (
  SELECT event_type, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM binned
), probes AS (
  SELECT c.*, p.p, p.p * c.n AS target
  FROM cum c, (SELECT unnest([0.25, 0.5, 0.75]) AS p) p
), crossing AS (
  SELECT event_type, p, bin, cnt, c, n, target,
         c - cnt AS c_prev
  FROM probes
  WHERE c >= target AND (c - cnt) < target
), est AS (
  SELECT c.event_type, c.p,
         b.vmin + ((b.vmax - b.vmin) / {_NBINS}.0)
                * (c.bin + (c.target - c.c_prev) / c.cnt) AS q
  FROM crossing c, bounds b
)
SELECT event_type,
  MAX(CASE WHEN p = 0.25 THEN q END) AS q25,
  MAX(CASE WHEN p = 0.5  THEN q END) AS q50,
  MAX(CASE WHEN p = 0.75 THEN q END) AS q75
FROM est GROUP BY 1
"""


@query(
    "value_quantiles_histogram",
    ("A5",),
    oracle=_HIST_QUANTILES_ORACLE,
    tags=("sketch",),
)
def value_quantiles_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width HISTOGRAM quantile sketch — the mergeable bounded-memory
    quantile scale path as a fully oracle-HASHED operator (the built-in
    Greenwald-Khanna twin ``value_quantiles_sketch`` is engine-internal and
    can only be rows-checked).

    Construction: global [min, max] (one scalar-subquery pass), 64
    fixed-width bins, per-(type, bin) counts — the sketch state is ≤64
    integers per group no matter the input size, and merging sketches is
    integer addition (the mergeable contract). Quantile read-out = running
    cumulative count + one linear interpolation inside the crossing bin;
    every arithmetic step is the same correctly-rounded IEEE sequence in
    both engines, so the driver hash matches exactly.

    Scale: two scans (bounds + counts; the bounds pass piggybacks on any
    existing stats at 100 TB), one 64·|types|-row shuffle, no sort of the
    data. Accuracy is bounded by bin width — tests assert the estimates
    bracket the exact quantiles within one bin.
    """
    events = t(spark, sf_dir, "events")
    bounds = events.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(float(_NBINS))
    binned = (
        events.join(F.broadcast(bounds))
        .select(
            "event_type",
            F.least(
                F.floor((F.col("value") - F.col("vmin")) / width),
                F.lit(float(_NBINS - 1)),
            )
            .cast("int")
            .alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    wb = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("event_type")
    cum = binned.select(
        "event_type",
        "bin",
        "cnt",
        F.sum("cnt").over(wb).cast("bigint").alias("c"),
        F.sum("cnt").over(wt).cast("bigint").alias("n"),
    )
    probes = cum.join(
        F.broadcast(
            events.sparkSession.createDataFrame(
                [(0.25,), (0.5,), (0.75,)], "p double"
            )
        )
    ).withColumn("target", F.col("p") * F.col("n"))
    crossing = probes.filter(
        (F.col("c") >= F.col("target")) & ((F.col("c") - F.col("cnt")) < F.col("target"))
    ).withColumn("c_prev", F.col("c") - F.col("cnt"))
    est = crossing.join(F.broadcast(bounds)).select(
        "event_type",
        "p",
        (
            F.col("vmin")
            + (F.col("vmax") - F.col("vmin"))
            / F.lit(float(_NBINS))
            * (F.col("bin") + (F.col("target") - F.col("c_prev")) / F.col("cnt"))
        ).alias("q"),
    )
    return est.groupBy("event_type").agg(
        F.max(F.when(F.col("p") == 0.25, F.col("q"))).alias("q25"),
        F.max(F.when(F.col("p") == 0.5, F.col("q"))).alias("q50"),
        F.max(F.when(F.col("p") == 0.75, F.col("q"))).alias("q75"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters (portable, oracle-hashed)
# ---------------------------------------------------------------------------

_CMS_D = 3  # hash rows
_CMS_W = 64  # buckets per row
_CMS_TOPK = 20

_CMS_ORACLE = rf"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
         AS token
  FROM documents
), rws AS (
  SELECT unnest(range(0, {_CMS_D})) AS r
), pairs AS (
  SELECT token, r,
         CAST(('0x' || substring(md5('cms' || CAST(r AS VARCHAR) || ':' || token), 1, 15))
              AS BIGINT) % {_CMS_W} AS bucket
  FROM toks, rws
), sketch AS (
  SELECT r, bucket, COUNT(*) AS c FROM pairs GROUP BY 1, 2
), exact AS (
  SELECT token, COUNT(*) AS exact_count FROM toks GROUP BY 1
), cand AS (
  SELECT e.token, e.exact_count, w.r,
         CAST(('0x' || substring(md5('cms' || CAST(w.r AS VARCHAR) || ':' || e.token), 1, 15))
              AS BIGINT) % {_CMS_W} AS bucket
  FROM exact e, rws w
), est AS (
  SELECT c.token, c.exact_count, MIN(s.c) AS est_count
  FROM cand c JOIN sketch s ON c.r = s.r AND c.bucket = s.bucket
  GROUP BY 1, 2
)
SELECT token,
  CAST(est_count AS BIGINT) AS est_count,
  CAST(exact_count AS BIGINT) AS exact_count,
  CAST(est_count - exact_count AS BIGINT) AS overestimate
FROM est
ORDER BY est_count DESC, token
LIMIT {_CMS_TOPK}
"""


def _cms_pairs(token: Column) -> Column:
    """(row, bucket) array for one token under the portable md5 CMS hash."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(_CMS_D - 1)),
        lambda r: F.struct(
            r.cast("int").alias("r"),
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("cms"), r.cast("string"), F.lit(":"), token)),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % _CMS_W
            ).alias("bucket"),
        ),
    )


@query(
    "cms_heavy_hitters",
    ("A10",),
    oracle=_CMS_ORACLE,
    tags=("sketch",),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via a PORTABLE Count-Min sketch (d=3 rows ×
    w=64 buckets, md5-salted row hashes) — reported next to the exact
    counts so the CMS one-sided error (est ≥ exact, never under) is
    driver-visible, fully oracle-HASHED like the portable HLL.

    Scale shape: the sketch is a ≤ d·w-cell integer table that partial-
    aggregates map-side — the shuffle carries at most 192 rows no matter
    the corpus size, and merging shard sketches is cell-wise addition
    (the mergeable contract). Estimate read-out joins the candidate set
    against the broadcast sketch (d rows per candidate, MIN across rows).
    The exact-count arm exists for the error audit; a production 100 TB
    run keeps only the sketch + a candidate stream.
    """
    from open_data_lakehouse_demo_spark.operators.dedup import tokenize
    from open_data_lakehouse_demo_spark.sources.io import spread

    docs = t(spark, sf_dir, "documents")
    # spread(): the tokenize+explode+3×md5 fan-out is narrow — on the
    # one-split local fixture it would run single-threaded (both the
    # sketch and the exact arm re-run this lineage)
    toks = spread(docs).select(F.explode(tokenize(F.col("text"))).alias("token"))
    pairs = toks.select(F.explode(_cms_pairs(F.col("token"))).alias("rb")).select(
        F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket")
    )
    sketch = pairs.groupBy("r", "bucket").agg(F.count("*").alias("c"))
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    cand = exact.select(
        "token", "exact_count", F.explode(_cms_pairs(F.col("token"))).alias("rb")
    ).select("token", "exact_count", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    est = (
        cand.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").alias("est_count"))
    )
    return (
        est.select(
            "token",
            F.col("est_count").cast("bigint").alias("est_count"),
            F.col("exact_count").cast("bigint").alias("exact_count"),
            (F.col("est_count") - F.col("exact_count")).cast("bigint").alias("overestimate"),
        )
        .orderBy(F.desc("est_count"), "token")
        .limit(_CMS_TOPK)
    )
