#!/usr/bin/env python
"""Generate BENCH_VS_DUCK.md: per-query wall-clock, Spark engine vs the
DuckDB oracle, on the same parquet at the same scale factor.

    PYTHONPATH=. python tools/bench_vs_duck.py > BENCH_VS_DUCK.md

Method: identical measurement policy per engine — one untimed warm-up, then
median of N runs; Spark executes to a noop sink (rows materialized
executor-side, nothing collected), DuckDB fetches all rows (its execution
is pull-based; fetchall IS materialization). Oracle-less queries
(non-SQL-expressible: stateful streaming, iterative AR, media stubs) have
no DuckDB column.

Reading the numbers: single-process DuckDB has no job-scheduling floor, so
sub-second queries compare its ~10ms dispatch against Spark's ~0.3-0.5s
DAG/stage/codegen floor — a fixed cost that is irrelevant at the 100 TB
design point, where scan+shuffle dominate and per-core throughput is what
transfers. The honest scale signal is the CPU-bound heavy queries (n-gram
join, fan-out, curation), where the Spark plans win outright single-node
and additionally scale out.
"""

from __future__ import annotations

import os
import statistics
import time


# Queries whose DuckDB oracle is a generated VALUES lookup (exact expected
# features), not an engine executing the same computation — kept out of the
# main table and every aggregate (VERDICT r8 item #5); see the
# correctness-only table below the main one.
_VALUES_ORACLE_ROWS = {
    "image_feature_extract",
    "audio_feature_extract",
    "video_frame_sample",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    import duckdb

    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
    from open_data_lakehouse_demo_spark.session import get_spark

    spark = get_spark(app_name="bench-vs-duck", cpus=cpus)
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={cpus}")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    import gc

    rows = []
    for name, q in QUERIES.items():
        q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        st = []
        for _ in range(n_runs):
            # time construction + execution: iterative queries (connected
            # components) run driver-side fixpoint actions during
            # construction, which an execute-only window would miss
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            st.append(time.perf_counter() - t0)
        gc.collect()
        spark_s = statistics.median(st)
        duck_s = None
        if q.oracle is not None:
            con.execute(q.oracle).fetchall()
            dt = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                con.execute(q.oracle).fetchall()
                dt.append(time.perf_counter() - t0)
            duck_s = statistics.median(dt)
        rows.append((name, spark_s, duck_s))

    print("# BENCH — per-query wall-clock vs the DuckDB oracle\n")
    print(f"sf dir `{sf_dir}`, {cpus} threads both engines, median of "
          f"{n_runs} warm runs. Generated by tools/bench_vs_duck.py.\n")
    print("Spark pays a fixed ~0.3-0.5s job/stage floor per query that no")
    print("100 TB design decision can or should remove — single-node DuckDB")
    print("has no such floor, so tiny-input ratios measure dispatch, not the")
    print("plan. CPU-heavy queries are the transferable signal.\n")
    print("ANN recall-arm cold/warm split: ann_recall_eval and")
    print("ann_recall_sweep share ONE materialized ground-truth arm")
    print("(inventory_vectors._ann_ranked_pairs, cached per")
    print("(session, sf_dir) under the driver's immutable-fixture")
    print("assumption). The FIRST of the pair to run in a session pays the")
    print("~3-4s arm materialization (3-level assignment + pair fan-out +")
    print("window rank); every later run of either query reads the cached")
    print("table in ~0.3s. The warm medians below are therefore")
    print("steady-state numbers by bench policy — a single cold eval costs")
    print("arm + read (~3x the r4 standalone eval), the right trade for any")
    print("session running both queries or either one repeatedly.\n")
    print("Trained ANN indexes are likewise steady-state (r7): the kmeans")
    print("codebook + assignment table and the SQ8 encoded lists are")
    print("session-cached (the `ivf_index` session cache, same")
    print("immutable-fixture contract + register_views clear hook), so warm")
    print("runs of cosine_topk_ivf_kmeans*/ivf_sq8_topk measure the SEARCH —")
    print("a vector index is built once and queried many times; the one-off")
    print("build costs a training/encode pass (~1s at sf0.1). The DuckDB")
    print("oracle re-derives the index inside every run by construction")
    print("(it is one SQL statement), so for these rows the duck column")
    print("carries the build + search while spark carries search only —")
    print("flagged here rather than hidden.\n")
    print("The ExactSubstr scrub trio (scrub_duplicated_spans and the two")
    print("r9 canaries) shares ONE session-cached merged-interval relation")
    print("(the `scrub_result` session cache — span-mass-sized, no text")
    print("pinned) on top of the shared positioned-hash index, so their warm")
    print("numbers price the MAP-SIDE text reconstruction only; the duck")
    print("column re-derives index + islands + merge inside every run. The")
    print("cold-build appendix prices the full detect+merge for all three.\n")
    print("Scan resolution is likewise steady-state (r6): t() resolves each")
    print("parquet relation once per (session, sf_dir) — the `scan`")
    print("session cache, ~100ms of driver time per spark.read call that a")
    print("session otherwise re-pays on every query. First calls pay it;")
    print("warm medians don't. Same immutable-fixture contract as the arm")
    print("cache. Run-to-run caveat: this box is a shared-CPU VM — single")
    print("rows can inflate 2-4x when a neighbor bursts mid-suite (three")
    print("full r6 runs disagreed by that much on individual rows while")
    print("agreeing on the aggregate shape); judge individual ratios only")
    print("across runs, or re-measure with check_query medians.\n")
    engine = [r for r in rows if r[0] not in _VALUES_ORACLE_ROWS]
    values_rows = [r for r in rows if r[0] in _VALUES_ORACLE_ROWS]
    print("| query | spark s | duckdb s | spark/duck |")
    print("|---|---|---|---|")
    for name, s, d in sorted(engine, key=lambda r: -r[1]):
        if d is None:
            print(f"| {name} | {s:.2f} | — (rows-only) | — |")
        else:
            print(f"| {name} | {s:.2f} | {d:.2f} | {s / d:.2f}× |")
    wins = sum(1 for _, s, d in engine if d is not None and s <= d)
    with_oracle = sum(1 for r in engine if r[2] is not None)
    agg_s = sum(s for _, s, d in engine if d is not None)
    agg_d = sum(d for _, s, d in engine if d is not None)
    heavy = [(n, s, d) for n, s, d in engine if d is not None and d >= 0.5]
    print(f"\n{with_oracle} engine-comparable oracle queries; aggregate "
          f"{agg_s:.1f}s vs {agg_d:.1f}s = {agg_s / agg_d:.2f}×; Spark ≤ "
          f"DuckDB outright on {wins}. On queries where DuckDB itself "
          f"needs ≥0.5s (CPU-bound, floor-free): "
          + ", ".join(f"{n} {s:.2f}s vs {d:.2f}s" for n, s, d in heavy)
          + ".")

    # Expected-value oracles are NOT engine comparisons (r8; own table
    # since r9 so the headline aggregate can't absorb them): these check
    # Spark's real decode+feature pipeline against a generated VALUES
    # table of the exact expected features — DuckDB's side is a literal
    # lookup by construction, so a ratio would price a codec pipeline
    # against a constant. Correctness rows with a duck column, excluded
    # from every aggregate above by construction.
    print("\n## Correctness-only rows (expected-value VALUES oracles — "
          "no engine signal)\n")
    print("| query | spark s | duckdb s | spark/duck |")
    print("|---|---|---|---|")
    for name, s, d in sorted(values_rows, key=lambda r: -r[1]):
        print(f"| {name} | {s:.2f} | {d:.2f} | — (VALUES lookup) |")

    # --- cold-build disclosure (r7 verdict #7): the steady-state policy
    # above carries its own counter-evidence. cold spark s = ONE run with
    # the relevant session cache cleared first, i.e. build + search; the
    # scan cache stays warm so the delta is the index/arm/eval build
    # itself, not parquet footer resolution.
    # shared registry — bench.py records cold_s from the same list
    from open_data_lakehouse_demo_spark.plans.cache_registry import cold_specs

    warm = {n: s for n, s, _ in rows}
    n_cold = int(os.environ.get("SPARK_GRAFT_COLD_RUNS", "3"))
    print("\n## Cache-backed rows: cold-build cost\n")
    print(f"Median of {n_cold} uncached runs per row (session cache cleared")
    print("before EACH run, scan cache warm): what a session pays ONCE")
    print("before the warm numbers above apply. DuckDB's column in the main")
    print("table always includes this build — it re-derives the structure")
    print("inside every run. loadavg1 is the 1-minute load average sampled")
    print("BEFORE the row's runs (after a settle pause), i.e. the load the")
    print("row STARTED under — the bench's own threads land in later rows'")
    print("samples too, so read it as an upper bound on neighbor noise; a")
    print("row that started under high load is weak evidence (shared VM,")
    print("1.5-4× cross-session noise).\n")
    print("| query | cached structure | warm spark s | cold spark s | loadavg1 before |")
    print("|---|---|---|---|---|")
    for name, clear, what in cold_specs():
        time.sleep(2)  # let the previous row's run drain from the sample
        load = os.getloadavg()[0]
        colds = []
        for _ in range(n_cold):
            clear()
            t0 = time.perf_counter()
            QUERIES[name].spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            colds.append(time.perf_counter() - t0)
        cold = statistics.median(colds)
        print(f"| {name} | {what} | {warm[name]:.2f} | {cold:.2f} | {load:.1f} |")


if __name__ == "__main__":
    main()
