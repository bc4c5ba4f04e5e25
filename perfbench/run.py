"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. It generates the workload's
inputs from ``--seed`` under ``.perfbench/`` in the checkout, starts the
package's Spark session with a pinned environment, runs the workload
(``perfbench/queries.py`` or ``perfbench/ingest.py``) closed loop with
one client, checks every result, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
from a traced run (``--trace 1``). The lines before it give the
workload-specific figures with their sample counts. ``README.md`` beside
this file defines every metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

try:
    import open_data_lakehouse_demo_spark  # noqa: E402,F401
except ImportError as exc:
    sys.exit(f"perfbench: the package is not importable from {ROOT}: {exc}")

from perfbench import metrics as M  # noqa: E402

WORKLOADS = ("query_mix", "lakehouse_ingest")
SF = 0.01                 # generated input scale (lineitem 60k rows)
DRIVER_MEMORY = "1g"      # local mode runs every task in the driver JVM

FAMILIES = ("inventory", "inventory_windows", "inventory_temporal",
            "inventory_sketches", "inventory_extended", "inventory_profiles",
            "inventory_streaming", "inventory_sim", "inventory_docs",
            "inventory_vectors", "inventory_text", "inventory_corpus",
            "inventory_multimodal")
COLD_STRUCTURES = ("trained_ivf", "positioned_hash_index",
                   "scrub_intervals", "decon_literals", "bloom_literals")
TABLE_VERBS = ("create", "append", "overwrite", "merge", "delete_rows",
               "update_where", "compact", "read", "read_snapshot",
               "read_where", "plan_scan", "changes_feed", "count_rows",
               "describe")
# Spans that make up the traced passes and the maintenance pass, each
# reported as ``<name>_s``; the self time of every other span under those
# roots (the pass, query, cycle and maintenance spans that only group
# calls) is ``trace.unattributed_s``.
TIMED_ROOTS = ("pass", "maintenance")
LAYER_SPANS = (("plans.build", "exec.action", "client.gc", "streaming.batch",
                "table_sql.dml", "trace.bookkeeping")
               + tuple(f"table_log.{v}" for v in TABLE_VERBS if v != "create"))
STAGE_COUNTS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "input_bytes", "spill_bytes", "failed_tasks", "outside_stage_s")


class Context:
    """What a workload needs: the session, tracer, inputs and clock."""

    def __init__(self, args, work_dir: str, sf_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work_dir = work_dir
        self.sf_dir = sf_dir
        self.spark = None
        self.tracer = None
        self.setup_s = None

    def mark_setup_done(self) -> None:
        """The first timed operation starts now."""
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - T_START
            self.tracer.counts.clear()


def pin_environment(work_dir: str) -> None:
    """Everything the numbers depend on, set before the JVM starts."""
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_WAREHOUSE": f"{work_dir}/warehouse",
        "SPARK_LOCAL_DIRS": f"{work_dir}/local",
        "TMPDIR": f"{work_dir}/tmp",
        # Python workers are started by the JVM with its environment
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    }
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(f"{work_dir}/{d}", exist_ok=True)
    os.environ.update(env)
    time.tzset()


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def start_session(ctx):
    from open_data_lakehouse_demo_spark.session import get_spark

    from perfbench.trace import Tracer

    tr = Tracer(None, ctx.trace)
    with tr.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench",
            cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={ctx.work_dir}/tmp",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    tr.spark = spark
    ctx.spark, ctx.tracer = spark, tr


def live_descendants(root: int) -> set[int]:
    """Every process below ``root`` that has not ended, from the parent
    links in ``/proc``; a zombie counts as ended."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":
            parent[int(name)] = int(ppid)
    found, frontier = set(), {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - found
        found |= frontier
    return found


def still_running(pids) -> set[int]:
    while True:   # reap this process's ended children first
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break
    alive = set()
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    alive.add(p)
        except OSError:
            pass
    return alive


def stop_processes(spark) -> None:
    """Stop the session and the JVM, and every process either started
    (Python workers included), and wait until each has ended. Safe to
    call whether or not a session was ever started."""
    import subprocess

    from pyspark import SparkContext

    started = live_descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # the JVM may already be gone
            pass
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    left = still_running(started | live_descendants(os.getpid()))
    for sig, grace in ((None, 20.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for p in left if sig else ():
            try:
                os.kill(p, sig)
            except OSError:
                pass
        until = time.monotonic() + grace
        while left and time.monotonic() < until:
            time.sleep(0.05)
            left = still_running(left | live_descendants(os.getpid()))
        if not left:
            return
    print(f"perfbench: processes {sorted(left)} did not end", file=sys.stderr)


def end_to_end(res: dict, ctx, rss_mb: float) -> dict:
    """The bounded metrics. On query_mix every query counts
    once, at its median latency in the window, so the figures do not
    depend on which queries the deadline happened to cut."""
    if "by_query" in res:
        medians = [M.median(v) for v in res["by_query"].values()]
        ops_per_s, p50 = len(medians) / sum(medians), M.median(medians)
    else:
        ops_per_s, p50 = res["ops"] / res["elapsed"], M.median(res["latencies"])
    return {
        "setup_s": (ctx.setup_s, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "op_p50_s": (p50, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def layer_metrics(res: dict, ctx, exec_counts: dict) -> dict:
    """Every per-layer metric; a layer the workload never calls reads 0.
    The ``LAYER_SPANS`` figures plus ``trace.unattributed_s`` add up to
    ``trace.pass_wall_s``."""
    tr = ctx.tracer
    self_by = tr.self_times(TIMED_ROOTS)
    builds = tr.durations("plans.build", roots=("pass",))
    out = {
        "session.get_spark_s": (sum(tr.durations("session.get_spark")), "s"),
        "session.warmup_s": (sum(tr.durations("session.warmup")), "s"),
        "plans.build_p50_s": (M.median(builds) if builds else 0.0, "s"),
        "table_log.create_s": (sum(tr.durations("table_log.create")), "s"),
    }
    for name in LAYER_SPANS:
        out[f"{name}_s"] = (self_by.get(name, 0.0), "s")
    for k in STAGE_COUNTS:
        out[f"exec.{k}"] = (exec_counts.get(f"exec.{k}", 0.0),
                            "s" if k.endswith("_s") else
                            "bytes" if k.endswith("_bytes") else "count")
    fam = res.get("family_pass_s", {})
    for f in FAMILIES:
        out[f"family.{f}.pass_s"] = (fam.get(f, 0.0), "s")
    cold = res.get("cold", {})
    for c in COLD_STRUCTURES:
        out[f"cache.cold_build_s.{c}"] = (cold.get(c, 0.0), "s")
    tstats = res.get("table_stats", {})
    for k in ("files_added", "files_rewritten", "bytes_written",
              "manifest_bytes", "snapshots"):
        out[f"table_log.{k}"] = (tstats.get(f"table_log.{k}", 0.0),
                                 "bytes" if "bytes" in k else "count")
    out["table_log.pruned_file_ratio"] = (res.get("pruned_file_ratio", 0.0), "ratio")
    out.update(streaming_metrics(res))
    out.update(workload_figures(res))
    out["op_tail_s"] = (M.tail(res["latencies"])[1], "s")
    out["trace.pass_wall_s"] = (tr.wall(TIMED_ROOTS), "s")
    out["trace.unattributed_s"] = (
        sum(t for n, t in self_by.items() if n not in LAYER_SPANS), "s")
    traced, untraced = res["pass_times"][True], res["pass_times"][False]
    ratio = (M.median(traced) / M.median(untraced) - 1.0) if traced and untraced else 0.0
    out["trace.overhead_ratio"] = (ratio, "ratio")
    return out


def workload_figures(res: dict) -> dict:
    """The workload-specific figures; 0 where the workload has none."""
    fresh, reads = res.get("freshness") or [], res.get("reads") or []
    return {
        "cold_s": (sum(res.get("cold", {}).values()), "s"),
        "freshness_p50_s": (M.median(fresh) if fresh else 0.0, "s"),
        "read_p50_s": (M.median(reads) if reads else 0.0, "s"),
        "maintenance_s": (res.get("maintenance", 0.0), "s"),
        "write_amp": (res.get("table_stats", {}).get("write_amp", 0.0), "ratio"),
    }


def streaming_metrics(res: dict) -> dict:
    prog = [p for p in res.get("progress", []) if p.get("numInputRows", 0) > 0]
    dm = lambda k: [p["durationMs"].get(k, 0) / 1e3 for p in prog]  # noqa: E731
    rows = sum(p["numInputRows"] for p in prog)
    trig = dm("triggerExecution")
    state = [op for p in prog for op in p.get("stateOperators", [])]
    last = state[-1] if state else {}
    return {
        "streaming.replay_s": (res.get("replay_s", 0.0), "s"),
        "streaming.batches": (len(prog), "count"),
        "streaming.input_rows_per_s": (rows / sum(trig) if trig and sum(trig) else 0.0, "1/s"),
        "streaming.trigger_p50_s": (M.median(trig) if trig else 0.0, "s"),
        "streaming.add_batch_s": (sum(dm("addBatch")), "s"),
        "streaming.query_planning_s": (sum(dm("queryPlanning")), "s"),
        "streaming.get_batch_s": (sum(dm("getBatch")), "s"),
        "streaming.wal_commit_s": (sum(dm("walCommit")), "s"),
        "streaming.state_rows": (last.get("numRowsTotal", 0), "count"),
        "streaming.state_memory_bytes": (last.get("memoryUsedBytes", 0), "bytes"),
    }


def run_workload(workload: str, ctx) -> tuple[dict, int, int, list[str]]:
    """(measurements, attempted, failed, failure notes)."""
    if workload == "lakehouse_ingest":
        from perfbench import ingest

        res = ingest.run(ctx)
        bad = [f"{what} after batch {b}: got {got!r}, want {want!r}"
               for what, b, got, want in res["observed"] if got != want]
        res["table_stats"] = ingest.table_stats(res["tables"])
        return res, len(res["observed"]) + res["ops"], len(bad), bad
    from perfbench import queries

    res = queries.run(ctx)
    expected = queries.oracle_expectations(res["results"], ctx.sf_dir)
    checked, mismatched, notes = queries.check(res["results"], expected)
    notes += res["errors"]
    return res, checked + res["ops"], mismatched + len(res["errors"]), notes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    sf_dir = f"{work_dir}/data"
    ctx = Context(args, work_dir, sf_dir)
    try:
        pin_environment(work_dir)
        if args.workload != "lakehouse_ingest":
            from perfbench import datagen

            sizes = datagen.generate(sf_dir, args.seed, SF)
            print(f"inputs sf={SF}: " + ", ".join(f"{k}={v}" for k, v in sizes.items()))
        start_session(ctx)
        res, attempted, failed, notes = run_workload(args.workload, ctx)
        exec_counts = res["exec_counts"]
        jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb, client_kb = vm_hwm_kb(jvm_pid), vm_hwm_kb("self")
        rss_mb = (jvm_kb + client_kb) / 1024.0
    finally:
        stop_processes(ctx.spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    for n in notes[:20]:
        print(f"FAILED {n}")
    if args.trace:
        chosen = layer_metrics(res, ctx, exec_counts)
    else:
        chosen = end_to_end(res, ctx, rss_mb)
    lat = res["latencies"]
    p, v = M.tail(lat)
    print(f"{args.workload}: {res['ops']} timed ops in {res['elapsed']:.2f}s; "
          f"latency p50 {M.median(lat):.4f}s, p{p:g} {v:.4f}s over {len(lat)} samples")
    print(f"  peak RSS: JVM {jvm_kb / 1024:.1f} MB, client {client_kb / 1024:.1f} MB")
    for name, lats in sorted(res.get("by_query", {}).items()):
        print(f"  {name}: median {M.median(lats):.4f}s over {len(lats)}")
    counts = {"freshness_p50_s": len(res.get("freshness") or []),
              "read_p50_s": len(res.get("reads") or [])}
    print("  " + ", ".join(
        f"{k} {val:.4f} {unit}" + (f" over {counts[k]}" if k in counts else "")
        for k, (val, unit) in workload_figures(res).items() if val))
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(val), "unit": unit}
                    for k, (val, unit) in chosen.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
