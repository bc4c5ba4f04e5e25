#!/usr/bin/env python
"""Full driver-contract dry run: every queries() entry vs its oracle_sql()
under a PLAIN SparkSession (no UTC pin, no AQE/Arrow tuning) — exactly the
environment the external driver supplies. Run with a hostile zone to catch
timezone-sensitive paths before the driver does:

    TZ=America/New_York PYTHONPATH=. python tools/driver_sim.py

Prints one line per query (PASS/FAIL/rows-only) + a failure summary.

Partition-hostile mode (opt-in) reruns the same sweep with partitioning
that differs from every default, so an answer that depends on partition
count, split size or join strategy shows up as a FAIL:

    TZ=America/New_York PYTHONPATH=. python tools/driver_sim.py --hostile-partitions

sets local[3], spark.sql.shuffle.partitions=7, AQE off,
spark.sql.files.maxPartitionBytes=64k and auto-broadcast off.

Pre-snapshot checklist gate (the two regressions that shipped in round 5
were exactly these, unchecked):

    PYTHONPATH=. python tools/driver_sim.py --gate

runs WITHOUT the oracle sweep and exits non-zero when
  (a) rotation coverage is broken — some inventory query would have no
      row in the union of the PREVIOUS correctness artifact and the one
      the driver is about to record (the first _ARTIFACT_CAP names of
      queries()), i.e. __spark_entry__._PRIORITY/_TAIL weren't rotated; or
  (b) `pytest tests/` is not green (collected failures/errors).
The rotation check (a) also runs — and fails loudly — in the default
full-sweep mode; it's pure file logic and costs nothing.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from _oracle_hash import hash_rows as _hash_rows  # noqa: E402

# The driver records at most this many queries per round, in queries()
# registration order (observed: every CORRECTNESS_r*.json has exactly 50
# rows against a larger inventory).
_ARTIFACT_CAP = 50
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The ONE oracle-view bootstrap shared by the type-audit and the full
# sweep (r10 review: two hand-maintained copies of the table list would
# drift the first time an oracle references a new testdata table — the
# gate would then fail with a misleading DESCRIBE error while the sweep
# passes, or vice versa).
ORACLE_TABLES = ("region nation customer supplier part orders lineitem "
                 "events documents embeddings").split()


# --hostile-partitions: partitioning unlike any default (odd shuffle
# width on 3 cores, 64k splits, no AQE re-planning, shuffle joins only).
_HOSTILE_PARTITIONS = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.files.maxPartitionBytes": "64k",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def create_oracle_views(con, sf_dir: str) -> None:
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


def check_rotation() -> list[str]:
    """Names that would be missing from (previous artifact) ∪ (the next
    artifact the driver will record) — must be empty before a snapshot."""
    import __spark_entry__ as e

    names = list(e.queries())
    next_rows = set(names[:_ARTIFACT_CAP])
    arts = sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")),
                  key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    prev_rows: set[str] = set()
    if arts:
        prev_rows = set(json.load(open(arts[-1])))
    return [n for n in names if n not in next_rows and n not in prev_rows]


def check_change_freshness() -> tuple[list[str], bool]:
    """Queries affected by this round's diff (via __spark_entry__'s own
    derivation) that are NOT in the next artifact's rows — the 'edited
    code, nothing re-verified' failure the r6 verdict flagged. Returns
    (missing names, hard-fail?). The 2-round-union contract is the HARD
    slot claim; hard-fail only when union-required + affected fit the
    cap together (then ordering alone must cover both and a miss means
    the priority mechanism or a hand edit is broken); otherwise the
    overflow is reported as advisory — those queries carry local
    (pytest/driver_sim full-sweep) evidence this round and rotate into
    the following artifact first."""
    import __spark_entry__ as e

    inv = e._inventory()
    affected = set(e._changed_queries(inv)) | {n for n in e._FORCE_FRESH if n in inv}
    if not affected:
        return [], False
    names = list(e.queries())
    next_rows = set(names[:_ARTIFACT_CAP])
    missing = sorted(affected - next_rows)
    arts = sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")),
                  key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    prev_rows = set(json.load(open(arts[-1]))) if arts else set()
    union_required = {n for n in names if n not in prev_rows}
    fits = len(union_required | affected) <= _ARTIFACT_CAP
    return missing, bool(missing) and fits


def check_oracle_types() -> list[str]:
    """Oracles shipping a version-fragile column type — must be empty.

    The three-round scrub-family driver red (r7-r9) came down to ONE
    construct: an uncast SUM(BIGINT) in the oracle's final SELECT.
    DuckDB's SUM(BIGINT) returns HUGEINT (INT128), whose python/pandas
    conversion differs across DuckDB versions (int vs float64 vs object)
    — a value-hash divergence that is invisible locally (one DuckDB
    version) and red in the driver (another). Rule (VERDICT r9 item #2):
    every numeric column an oracle SHIPS must carry an explicit CAST to
    BIGINT/DOUBLE/DECIMAL.

    Enforced semantically rather than by regex: DESCRIBE each
    oracle_sql() against the sf0.01 views (no execution) and flag any
    shipped HUGEINT/UHUGEINT column. This catches aggregates hidden
    behind COALESCE/CASE (exactly how the scrub rows slipped past a
    final-SELECT grep: the SUM lived in a CTE, the final SELECT shipped
    COALESCE(sum_col, 0), and COALESCE preserves HUGEINT)."""
    import duckdb

    import __spark_entry__ as e

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    create_oracle_views(con, sf)
    bad: list[str] = []
    for name, sql in e.oracle_sql().items():
        try:
            cols = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as exc:  # noqa: BLE001 — a non-describable oracle is itself a finding
            bad.append(f"{name} (DESCRIBE failed: {type(exc).__name__})")
            continue
        fragile = [c[0] for c in cols if "HUGEINT" in (c[1] or "").upper()]
        if fragile:
            bad.append(f"{name} ships {fragile}")
    con.close()
    return bad


def run_gate() -> int:
    """Checklist gate: rotation coverage + change-driven freshness +
    oracle-type audit + green pytest (+ advisory noise report).
    Exit code 0/1."""
    missing = check_rotation()
    if missing:
        print(f"GATE FAIL: {len(missing)} queries with no row in "
              f"(previous ∪ next) correctness artifacts: {missing}")
    else:
        print("GATE OK: rotation covers the full inventory in 2 rounds")
    stale, hard = check_change_freshness()
    if stale and hard:
        print(f"GATE FAIL: {len(stale)} queries touched by this round's diff "
              f"have no row in the NEXT artifact (update _FORCE_FRESH in "
              f"__spark_entry__.py): {stale}")
        missing = missing or stale
    elif stale:
        print(f"GATE NOTE: diff blast radius exceeds the {_ARTIFACT_CAP}-row "
              f"artifact cap; {len(stale)} affected queries ride the 2-round "
              f"union instead of the next artifact: {stale[:10]}...")
    else:
        print("GATE OK: every query touched by this round's diff is in the "
              "next artifact")
    fragile = check_oracle_types()
    if fragile:
        print(f"GATE FAIL: {len(fragile)} oracles ship HUGEINT columns "
              f"(cast every shipped aggregate — see check_oracle_types "
              f"docstring): {fragile}")
        missing = missing or fragile
    else:
        print("GATE OK: no oracle ships a HUGEINT/version-fragile column")
    # Advisory: surface bench rows whose own artifact flags them as
    # load-noise so nobody re-litigates phantom regressions.
    bq = os.path.join(_REPO, "BENCH_QUERIES.json")
    if os.path.exists(bq):
        try:
            noisy = json.load(open(bq)).get("noisy", [])
            if noisy:
                print(f"GATE NOTE: {len(noisy)} bench rows self-flagged as "
                      f"load-noise (see BENCH_QUERIES.json noisy_rule): {noisy}")
        except Exception:
            pass
    # Advisory: the sf0.1 heavy-query oracle sweep (tools/oracle_sf01.py)
    # — scale-dependent bug classes are invisible at the sf0.01 gate.
    o1 = os.path.join(_REPO, "ORACLE_SF01.json")
    if os.path.exists(o1):
        try:
            d = json.load(open(o1))
            bad = sorted(n for n, r in d.get("queries", {}).items()
                         if not r.get("hash_match"))
            if bad:
                print(f"GATE NOTE: sf0.1 oracle sweep has FAILING rows "
                      f"(rerun tools/oracle_sf01.py after fixing): {bad}")
            else:
                print(f"GATE OK: sf0.1 heavy-query oracle sweep green "
                      f"({len(d.get('queries', {}))} rows)")
        except Exception:
            pass
    else:
        print("GATE NOTE: no ORACLE_SF01.json — run tools/oracle_sf01.py")
    print("running pytest tests/ -q ...", flush=True)
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "-q", "--tb=no"],
        cwd=_REPO, capture_output=True, text=True,
    )
    tail = (proc.stdout.strip().splitlines() or ["<no output>"])[-1]
    print(f"pytest: {tail}")
    if proc.returncode != 0:
        print("GATE FAIL: pytest not green")
    return 1 if (missing or proc.returncode != 0) else 0


def main() -> None:
    if "--gate" in sys.argv:
        sys.exit(run_gate())

    missing_rotation = check_rotation()
    if missing_rotation:
        print(f"ROTATION FAIL ({len(missing_rotation)} queries would lack "
              f"2-round-union coverage): {missing_rotation}")

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

    import duckdb
    from pyspark.sql import SparkSession

    hostile = "--hostile-partitions" in sys.argv
    builder = (
        SparkSession.builder.master("local[3]" if hostile else "local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (_HOSTILE_PARTITIONS if hostile else {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    print("entry rows:", len(e.entry(spark).collect()))
    qs, osql = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    create_oracle_views(con, sf_dir)

    failures = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            if name not in osql:
                print(f"{name}: rows-only ({len(rows)} rows)")
                continue
            cur = con.execute(osql[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            ok = (
                len(rows) == len(orows)
                and sorted(cols) == sorted(ocols)
                and _hash_rows(cols, rows) == _hash_rows(ocols, orows)
            )
            print(f"{name}: {'PASS' if ok else 'FAIL'} ({len(rows)}/{len(orows)})")
            if not ok:
                failures.append(name)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            failures.append(name)
    print(f"\n{len(qs) - len(failures)}/{len(qs)} green; failures: {failures or 'none'}")
    if missing_rotation:
        print(f"ROTATION FAIL: {missing_rotation}")
    spark.stop()
    sys.exit(1 if (failures or missing_rotation) else 0)


if __name__ == "__main__":
    main()
