#!/usr/bin/env python
"""Interleaved A/B harness (optimization rounds, guide §1) for session
config and code variants. Variant A is this checkout with ``--conf-a``;
variant B is ``--repo-b`` (another checkout of the package, e.g. an older
commit exported with ``git archive``) and/or ``--conf-b`` (JSON session
overrides). Cross-session timings inside ONE JVM are confounded by JIT
warmth — later sessions always win — so each variant runs in its own
fresh subprocess and the variants alternate A,B,A,B,... inside one box
window, so both see the same box state. Per query we keep the MIN across
same-variant subprocesses (contention only adds time). Each subprocess
warms the query once, then times ``n_runs`` noop-sink executions and
reports the median.

Usage:
  PYTHONPATH=. python tools/ab.py \
      --conf-b '{"spark.sql.adaptive.coalescePartitions.minPartitionSize":"64k"}' \
      --queries containment_dups,ngram_jaccard_dups --pairs 3
  PYTHONPATH=. python tools/ab.py --repo-b /tmp/ab_1f2e448 \
      --queries cosine_topk_ivf,pq_adc_topk --pairs 4
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _worker(conf_json: str, queries: list[str], n_runs: int) -> None:
    # imports resolve against whichever checkout PYTHONPATH points at
    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
    from open_data_lakehouse_demo_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab-worker", extra_conf=json.loads(conf_json) or None)
    out: dict[str, float] = {}
    for name in queries:
        q = QUERIES[name]
        spark.sparkContext.setJobDescription(f"ab:{name}")
        df = q.spark(spark, sf_dir)  # warm-up: session caches, scan listing
        df.write.format("noop").mode("overwrite").save()
        ts = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = q.spark(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(ts), 4)
    spark.stop()
    print("AB_RESULT " + json.dumps(out))


def main() -> None:
    if sys.argv[1:2] == ["--worker"]:
        _worker(sys.argv[2], sys.argv[3].split(","), int(sys.argv[4]))
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo-b", help="path to the variant-B checkout (default: this one)")
    ap.add_argument("--conf-a", default="{}")
    ap.add_argument("--conf-b", default="{}")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    if args.repo_b is None and args.conf_b == args.conf_a:
        ap.error("variant B must differ: give --repo-b and/or --conf-b")
    queries = args.queries.split(",")
    repo_a = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    variants = (("A", repo_a, args.conf_a), ("B", args.repo_b or repo_a, args.conf_b))

    results: dict[str, dict[str, list[float]]] = {
        q: {"A": [], "B": []} for q in queries
    }
    for i in range(args.pairs):
        for label, repo, conf in variants:
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", conf,
                 args.queries, str(args.runs)],
                capture_output=True, text=True, cwd=repo,
                env={**os.environ, "PYTHONPATH": repo},
            )
            line = [ln for ln in p.stdout.splitlines() if ln.startswith("AB_RESULT ")]
            if not line:
                print(f"pair {i} {label} FAILED:\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
                sys.exit(1)
            for q, s in json.loads(line[0][len("AB_RESULT "):]).items():
                results[q][label].append(s)
            print(f"pair {i} {label}: done", flush=True)

    print(f"\n{'query':36s} {'A(min)':>8s} {'B(min)':>8s} {'B/A':>6s}")
    for q in queries:
        a, b = min(results[q]["A"]), min(results[q]["B"])
        print(f"{q:36s} {a:8.3f} {b:8.3f} {b / a:6.2f}")
    print("\nraw:", json.dumps(results))


if __name__ == "__main__":
    main()
