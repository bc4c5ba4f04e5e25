"""The ``query_mix`` workload.

It runs a fixed set of named inventory queries through the package's
public builders (``QUERIES[name].spark(spark, sf_dir)``) in a seeded
order, closed loop, one client:

1. a warm-up pass collects every result once and a second runs each
   query in the timed form (untimed, part of set-up);
2. the timed window repeats the order, each execution a builder call
   plus a ``noop`` write of the frame, until ``seconds`` have passed
   and at least one whole pass has run (the execution running at the
   deadline completes and counts);
3. in a traced run, each cache-backed query then runs once more,
   untraced, with its session cache cleared (``cold_s``), collecting
   and checking the result;
4. the correctness gate compares every collected result with its DuckDB
   oracle on the same generated parquet, outside every timed region.

Latencies come from untraced executions only: a traced call's timer
would also hold the tracer's job and stage reads.

The set is a slice of every family: a full pass over all 98 queries
takes about a minute warm, more than one benchmark run may spend.
"""

from __future__ import annotations

import gc
import time
from collections import defaultdict

from perfbench import metrics as M

# One or more queries of each of the 13 inventory modules: the BI/SQL
# families (dispatch- and planning-bound) and the corpus/ML families
# (Arrow and Python UDFs, multi-job plans, session caches). Every one
# has a DuckDB oracle.
QUERY_MIX = (
    "pricing_summary",               # inventory
    "user_sessions",                 # inventory_windows
    "error_time_to_resolution",      # inventory_temporal
    "distinct_users_hll",            # inventory_sketches
    "revenue_rollup_region_nation",  # inventory_extended
    "line_service_windows",          # inventory_profiles
    "latest_bus_state_batch",        # inventory_streaming
    "generated_rides",               # inventory_sim
    "minhash_lsh_dups",              # inventory_docs
    "cosine_topk_ivf_kmeans",        # inventory_vectors
    "bigram_stats",                  # inventory_text
    "shared_substring_spans",        # inventory_corpus ...
    "scrub_duplicated_spans",
    "benchmark_decontaminate",
    "bloom_decontaminate",
    "video_frame_sample",            # inventory_multimodal
)


def cold_rows():
    """(query, cached structure, clear function) for the cold runs: each clears exactly the structure it names, so the cold run
    prices that build with every other cache warm."""
    from open_data_lakehouse_demo_spark.plans import inventory_corpus as ic
    from open_data_lakehouse_demo_spark.plans import inventory_vectors as iv

    return [
        ("cosine_topk_ivf_kmeans", "trained_ivf", iv.clear_ivf_index_cache),
        ("shared_substring_spans", "positioned_hash_index",
         ic.clear_substr_index_cache),
        ("scrub_duplicated_spans", "scrub_intervals",
         ic.clear_scrub_result_cache),
        ("benchmark_decontaminate", "decon_literals", ic.clear_decon_eval_cache),
        ("bloom_decontaminate", "bloom_literals", ic.clear_bloom_eval_cache),
    ]


def family(q) -> str:
    return q.spark.__module__.rsplit(".", 1)[-1]


def _execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    """Run the workload; returns its measurements and results."""
    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES

    spark, tr, sf_dir = ctx.spark, ctx.tracer, ctx.sf_dir
    order = M.seeded_order(QUERY_MIX, ctx.seed)
    results: dict[str, list] = defaultdict(list)   # name -> [(cols, rows)]

    def collect(name: str) -> None:
        with tr.span("query"):
            df = tr.call("plans.build", QUERIES[name].spark, spark, sf_dir)
            rows = tr.call("exec.action", lambda: [tuple(r) for r in df.collect()])
        results[name].append((df.columns, rows))

    with tr.span("session.warmup"):
        for name in order:
            with tr.operation(f"warmup:{name}"):
                collect(name)
            gc.collect()
        # a second pass in the timed form: the first one leaves the JIT
        # still compiling, and the next executions ran 10-40% slower
        for name in order:
            _execute(QUERIES[name].spark(spark, sf_dir))
            gc.collect()
    ctx.mark_setup_done()

    latencies: list[float] = []
    errors: list[str] = []
    by_query: dict[str, list[float]] = defaultdict(list)
    executed = 0
    pass_times = {True: [], False: []}
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    n_pass = 0
    # A traced run traces the first pass only and leaves the second
    # untraced, so the layer figures are one pass's worth and the two
    # passes give the tracing overhead; its window holds both whole.
    min_passes = 2 if ctx.trace else 1

    def window_open() -> bool:
        whole = len(pass_times[True]) + len(pass_times[False])
        return time.perf_counter() < deadline or whole < min_passes

    while window_open():
        tr.enabled = ctx.trace and n_pass == 0
        p0 = time.perf_counter()
        with tr.span("pass"):
            for name in order:
                if not window_open():
                    break
                q = QUERIES[name]
                a = time.perf_counter()
                executed += 1
                try:
                    with tr.operation(f"p{n_pass}:{name}"), tr.span("query"):
                        df = tr.call("plans.build", q.spark, spark, sf_dir)
                        tr.call("exec.action", _execute, df)
                        del df
                except Exception as exc:  # counted against the attempts
                    errors.append(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                if not tr.enabled:
                    lat = time.perf_counter() - a
                    latencies.append(lat)
                    by_query[name].append(lat)
                with tr.span("client.gc"):
                    gc.collect()
            else:  # only a pass the deadline did not cut is a whole pass
                pass_times[tr.enabled].append(time.perf_counter() - p0)
        n_pass += 1
    elapsed = time.perf_counter() - t_start
    exec_counts = dict(tr.counts)
    # each family at its queries' median untraced latencies
    family_pass_s: dict[str, float] = defaultdict(float)
    for name, lats in by_query.items():
        family_pass_s[family(QUERIES[name])] += M.median(lats)

    tr.enabled = False
    cold: dict[str, float] = {}
    # cold_s is a per-layer figure: only the traced run pays for it
    for name, structure, clear in cold_rows() if ctx.trace else ():
        clear()
        gc.collect()
        a = time.perf_counter()
        collect(name)
        cold[structure] = time.perf_counter() - a
    tr.enabled = ctx.trace

    return {
        "ops": executed,
        "errors": errors,
        "elapsed": elapsed,
        "latencies": latencies,
        "by_query": by_query,
        "pass_times": pass_times,
        "family_pass_s": dict(family_pass_s),
        "cold": cold,
        "exec_counts": exec_counts,
        "results": results,
    }


def oracle_expectations(names, data_dir: str) -> dict[str, tuple]:
    """name -> (columns, rows) of each query's DuckDB oracle over the
    generated parquet."""
    import duckdb

    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
    from perfbench.datagen import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in names:
            cur = con.execute(QUERIES[name].oracle)
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def check(results: dict, expected: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, failure notes): every collected result must
    match its oracle in row count, column names and row hash."""
    attempted = failed = 0
    notes = []
    for name, runs in results.items():
        ecols, erows = expected[name]
        want = (len(erows), sorted(ecols), M.hash_rows(ecols, erows))
        for cols, rows in runs:
            attempted += 1
            got = (len(rows), sorted(cols), M.hash_rows(cols, rows))
            if got != want:
                failed += 1
                notes.append(f"{name}: {got[0]} rows hash {got[2]}, "
                             f"oracle {want[0]} rows hash {want[2]}")
    return attempted, failed, notes
