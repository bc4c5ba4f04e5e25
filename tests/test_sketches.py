"""Sketch scale-paths: accuracy vs exact twins + stream-static enrichment."""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark import streaming as st
from open_data_lakehouse_demo_spark.operators.simulation import build_bus_lines
from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
from open_data_lakehouse_demo_spark.sources.io import read_parquet
from tests.conftest import SF_DIR


def test_approx_quantiles_close_to_exact(spark):
    sketch = {
        r["event_type"]: r
        for r in QUERIES["value_quantiles_sketch"].spark(spark, SF_DIR).collect()
    }
    exact = {
        r["event_type"]: (r["q0"], r["q100"])
        for r in QUERIES["value_quantiles"].spark(spark, SF_DIR).collect()
    }
    assert sketch.keys() == exact.keys()
    for k in exact:
        # r7 oracle-ized form: exact endpoints by value + GK rank-contract flags
        row = sketch[k]
        assert (row["q0"], row["q100"]) == exact[k]
        assert row["rank_ok_q25"] and row["rank_ok_q50"] and row["rank_ok_q75"]


def test_hll_close_to_exact_distinct(spark):
    """The query now EMITS its accuracy contract (hll_within_3rsd — the
    r7 oracle-ized form); cross-check the exact column and the flag
    against an independent exact aggregate."""
    df = QUERIES["distinct_users_hll"].spark(spark, SF_DIR)
    rows = {r["event_type"]: r for r in df.collect()}
    # The sketch runs over users pre-aggregated per (event_type, user_id):
    # no aggregate grouping on user_id may carry an HLL++ buffer, which
    # would be one partial sketch per (event_type, user_id) group.
    plan = df._jdf.queryExecution().executedPlan().toString()
    aggs = re.findall(r"Aggregate\(keys=\[([^\]]*)\], functions=\[(.*)\]", plan)
    assert aggs
    for keys, functions in aggs:
        assert not ("user_id" in keys and "approx_count_distinct" in functions)
    events = read_parquet(spark, f"{SF_DIR}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert rows.keys() == exact.keys()
    for k in exact:
        assert rows[k]["exact_users"] == exact[k]
        assert rows[k]["hll_within_3rsd"] is True


def test_stream_static_enriched_alerts(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    env = json.dumps(
        {
            "id": 1,
            "timestamp": "2025-01-01 10:00:00",
            "data": {
                "bus_ride_id": "r1",
                "bus_line_id": 3,
                "bus_line": "line-3",
                "bus_stop_id": 100,
                "bus_stop_index": 0,
                "timestamp_at_stop": "2025-01-01 10:00:00",
                "passengers_in_stop": 8,
                "passengers_boarding": 3,
                "remaining_at_stop": 5,
                "total_passengers": 3,
                "total_capacity": 60,
                "last_stop": False,
            },
        }
    )
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        f.write(env + "\n")
    lines_dim = build_bus_lines(read_parquet(spark, f"{SF_DIR}/nation.parquet"))
    parsed = st.parse_envelope(st.read_json_stream(spark, src))
    out = str(tmp_path / "out")
    q = (
        st.enriched_alerts(parsed, lines_dim)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    # nation 3's derived dim: frequency 10 + (3%4)*5 = 25, stops 12 + 3%5 = 15
    assert r["frequency_minutes"] == 25 and r["n_stops"] == 15
    assert r["remaining_at_stop"] == 5


def test_portable_hll_oracle_parity_and_accuracy(spark, duck):
    """The portable-register HLL must hash-match its DuckDB oracle AND
    stay within the m=256 error envelope of the exact distinct count."""
    from tests.oracle_utils import assert_matches_oracle

    q = QUERIES["distinct_users_hll_portable"]
    assert q.oracle is not None
    sdf = q.spark(spark, SF_DIR)
    assert_matches_oracle(sdf, duck, q.oracle, "distinct_users_hll_portable")
    exact = {
        r["event_type"]: r["n"]
        for r in read_parquet(spark, f"{SF_DIR}/events.parquet")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for r in sdf.collect():
        rel = abs(r["est_users"] - exact[r["event_type"]]) / exact[r["event_type"]]
        assert rel < 0.2, (r["event_type"], r["est_users"], exact[r["event_type"]])


def test_histogram_quantiles_oracle_parity_and_accuracy(spark, duck):
    """The histogram quantile sketch must hash-match its DuckDB oracle and
    land within one bin width of the exact quantiles."""
    from tests.oracle_utils import assert_matches_oracle

    q = QUERIES["value_quantiles_histogram"]
    assert q.oracle is not None
    sdf = q.spark(spark, SF_DIR)
    assert_matches_oracle(sdf, duck, q.oracle, "value_quantiles_histogram")
    events = read_parquet(spark, f"{SF_DIR}/events.parquet")
    lo, hi = events.agg(F.min("value"), F.max("value")).first()
    bin_w = (hi - lo) / 64.0
    exact = {
        r["event_type"]: r["qs"]
        for r in events.groupBy("event_type")
        .agg(F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("qs"))
        .collect()
    }
    for r in sdf.collect():
        for got, want in zip((r["q25"], r["q50"], r["q75"]), exact[r["event_type"]]):
            assert abs(got - want) <= bin_w, (r["event_type"], got, want, bin_w)


def test_cms_heavy_hitters_oracle_parity(spark, duck):
    from tests.oracle_utils import assert_matches_oracle

    q = QUERIES["cms_heavy_hitters"]
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, "cms_heavy_hitters")


def test_cms_one_sided_error_and_mergeable(spark):
    """CMS never underestimates, and the sketch of a sharded corpus is the
    cell-wise sum of shard sketches (the mergeable contract)."""
    from open_data_lakehouse_demo_spark.operators.dedup import tokenize
    from open_data_lakehouse_demo_spark.plans.inventory_sketches import _cms_pairs

    q = QUERIES["cms_heavy_hitters"]
    rows = q.spark(spark, SF_DIR).collect()
    assert rows and all(r["est_count"] >= r["exact_count"] for r in rows)
    assert all(r["overestimate"] == r["est_count"] - r["exact_count"] for r in rows)

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    pairs = toks.select(
        "doc_id", F.explode(_cms_pairs(F.col("token"))).alias("rb")
    ).select("doc_id", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))

    def cells(df):
        return {
            (r["r"], r["bucket"]): r["c"]
            for r in df.groupBy("r", "bucket").agg(F.count("*").alias("c")).collect()
        }

    full = cells(pairs)
    lo = cells(pairs.filter(F.col("doc_id") % 2 == 0))
    hi = cells(pairs.filter(F.col("doc_id") % 2 == 1))
    merged: dict = {}
    for part in (lo, hi):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == full
