#!/usr/bin/env python
"""Generate COVERAGE.md: SURVEY.md §2 operator id → implementation mapping.

Query-covered ids come from the inventory's ``operators`` metadata; ids with
no query entry (IO, DDL, streaming topology, catalog ops) are mapped to the
module + test that exercises them. Re-run after adding operators:
    python tools/gen_coverage.py > COVERAGE.md
"""

from __future__ import annotations

from collections import defaultdict

from open_data_lakehouse_demo_spark.plans.inventory import QUERIES

# Non-query surface: operator id → (implementation, exercised by)
STATIC = {
    "S1": ("sources/io.py read_csv", "tests/test_io_ddl.py"),
    "S2": ("sources/io.py read_parquet (incl. TIMESTAMP(NANOS))", "every query scan"),
    "S3": ("sources/io.py write_parquet", "tests/test_io_ddl.py"),
    "S4": ("sources/io.py read_jsonl", "tests/test_io_ddl.py"),
    "S5": ("plans/ddl.py ctas_from_df (iceberg-or-parquet)", "tests/test_io_ddl.py, test_integration.py"),
    "S6": ("spark.table via plans/ddl.py catalog", "tests/test_io_ddl.py"),
    "S7": ("collapses to catalog read (SURVEY §2.1)", "tests/test_io_ddl.py"),
    "S8": ("plans/ddl.py ctas_from_df / saveAsTable", "tests/test_io_ddl.py"),
    "S9": ("streaming/job.py kafka_source (file source offline)", "tests/test_streaming.py"),
    "S10": ("streaming/job.py kafka_sink (json-file sink offline)", "tests/test_streaming.py"),
    "S11": ("streaming/job.py run_pipeline foreachBatch", "tests/test_streaming.py"),
    "S12": ("streaming topology (kafka→from_json→table)", "tests/test_streaming.py"),
    "S13": ("plans/ddl.py ctas", "tests/test_io_ddl.py, test_integration.py"),
    "S14": ("plans/ddl.py create/drop/delete_where/truncate", "tests/test_io_ddl.py"),
    "S15": ("sources/io.py write_parquet(partition_by, sort) + bucketBy", "tests/test_io_ddl.py, test_extended.py"),
    "S16": ("no-op by design (Iceberg commits always current)", "plans/ddl.py docstring"),
    "S17": ("sources/io.py read_orc/write_orc (partitioned)", "tests/test_io_ddl.py"),
    "S18": ("sources/io.py read_parquet_merged (mergeSchema additive evolution)", "tests/test_io_ddl.py"),
    "S19": ("sources/layout.py write_zordered — Morton-key multi-dim clustered write (codegen bit-interleave, one range shuffle) + footer-stats skip_ratio audit; measured 44%/69% file skip on both clustered dims vs 88%/0% for the single-axis sort", "tests/test_layout.py"),
    "S20": ("sources/table_log.py — snapshot-versioned parquet table format (manifest log, atomic link(2) commits): snapshot-isolated reads, time travel by id/timestamp, roll-forward rollback, COW delete + MERGE upsert, additive schema evolution, vacuum retention, idempotent txn appends (O(1) setTransaction check) + exactly-once foreachBatch streaming sink; since r7: pluggable CommitProtocol (POSIX link / object-store conditional-PUT), per-file column bounds in manifests, plan_scan/read_where driver-side file pruning, file-granular COW delete_rows, OPTIMIZE ZORDER clustered compaction; since r10: full ALTER TABLE schema evolution (add/rename/widen/drop as metadata-only commits, physical-name mapping + retired-name reuse guard, conform reads with explicit-schema upcasts and rename-aware stats pruning — tests/test_schema_evolution.py incl. a random-op model check), merge-on-read DELETE via deletion-vector sidecars over _metadata.row_index (tests/test_mor_delete.py), incremental table_changes tailing + exactly-once sync_increment table-to-table steps checkpointed in the txn map, and a first-class Spark data source (streaming/table_source.py: spark.read/readStream.format('table_log'), Arrow-batched per-file worker reads, snapshot-id streaming offsets for checkpointed exactly-once tailing, batch + exactly-once streaming WRITERS with worker-staged parquet and txn-stamped micro-batch commits, and an end-to-end bronze-to-silver medallion pipeline test — tests/test_table_source.py), snapshot tags (immutable named refs via the put-if-absent commit primitive, vacuum-retained), metadata-only COUNT(*) from manifest row counts (deletion-vector-aware), CHECK/NOT NULL constraints enforced footer-stats-first at the one commit choke point (bounds prove compliance OR the exact violation count; partition columns decide from their exact [v,v] stats — tests/test_constraints.py), write-audit-publish staging (stage/read_staged/publish_staged — Iceberg's WAP; r11: the duplicate-publish/discard guard checks ALL retained manifests, so a rewrite can't reopen it), batch time travel by tag/timestamp options, and describe() metadata summaries; since r11: table_changes_feed CHANGE DATA FEED (_change_type insert/delete + _commit_snapshot — MoR deletes emitted as retraction rows, Delta readChangeFeed parity) ALSO surfaced on both data-source faces via option('readChangeFeed','true') (batch with exclusive startingSnapshot / inclusive endingSnapshot; streaming with retractions as data records + the schema-change stop — one shared tl._changes_walk so no face can drift), applied exactly-once by sync_increment(keys=...) (batch MERGE-with-delete-branch) and foreach_batch_changes_applier (the streaming CDC apply sink — the full readChangeFeed→MERGE Delta pattern, txn=(writer_id,batch_id)), chunked constant-memory DSv2 writers (fixed-size Arrow row groups through one ParquetWriter per file) with option('partitionBy',...) hive-layout destinations and a REQUIRED streaming writerId (txnAppId semantics — no path-keyed default that two writers could share), prune-only filter pushdown in the batch reader (Spark 4.1 pushFilters → manifest-stats file skipping, every filter returned for re-evaluation; opt-in option('pushdown','true')), copy-on-write UPDATE (update_where — file-granular like delete_rows, constraint-enforced, DV-aware, type-preserving SET), size-targeted OPTIMIZE (compact_small_files — bin-packs only sub-target files per partition dir, carries the well-sized bulk by reference; the recurring-maintenance twin of the full rewrite compact()), and a 16-op-kind random model check (4 seeds x 50 steps: alters + COW/MoR deletes + UPDATE + tags + constraints + WAP + compaction + rollback interleavings, failure-predicting); since r12: change-data SIDECARS for copy-on-write DML (update_where writes its matched rows as update_preimage/update_postimage records, delete_rows its deleted rows as delete retractions, under _changes/ recorded in the manifest's change_data key — Delta's _change_data design), emitted by table_changes_feed AND both data-source CDF faces through the one shared _changes_walk (COW UPDATE/DELETE no longer stop the feed or force a CDC re-seed; applied exactly-once by sync_increment(keys=)/foreach_batch_changes_applier with retractions-before-insertions-within-a-snapshot ordering, unknown _change_type fails loudly; vacuum sweeps sidecars on the data-file lifecycle; a dedicated CDC-mirror fuzz asserts feed-vs-table equivalence across random append/MoR/COW-delete/UPDATE/MERGE/compaction interleavings); MERGE CDC sidecars (matched keys as update pre/post pairs + unmatched as inserts, written FIRST with the rewrite reusing the materialized rows — source evaluated exactly once, so non-deterministic sources cannot diverge feed from table; same single-evaluation contract as update_where's), row-preserving maintenance INVISIBLE to every tailing face (compact/zorder skipped by both walkers instead of raising — Delta's OPTIMIZE-is-invisible contract, so routine maintenance never breaks a stream or CDC pipeline), zero-row part files never committed (data or sidecar — an empty file has no column bounds and would conservatively defeat file pruning forever; _may_match also short-circuits recorded __nrows=0 legacy files), and source-to-target type casts in merge (mixed-type files used to break the mergeSchema read) restricted to lossless widenings (ANSI-off cast would silently NULL), delete_where CDC via ROW-IDENTITY sidecars (arbitrary — even non-deterministic — SQL predicates: matched rows materialize with (__fname,__ri) lineage, the rewrite anti-joins exactly that set), and CHAINED CDC (the apply's merge branch classifies and records its own downstream insert/delete/update-pair sidecars against the pinned target, so a mirror is itself CDC-consumable: bronze→silver→gold, tested three-deep), and maxSnapshotsPerTrigger streaming admission control (post-first-batch micro-batches advance at most n snapshots — Delta's maxFilesPerTrigger shape; first-batch unboundedness documented as the Python offset API's honest limit), DISTRIBUTED change-feed retractions (_dv_delta_df: bulk MoR delete positions flow worker-side — a 10^6-position delete tails without driver materialization; the driver-side reader remains only for the data-source planner whose InputPartitions must carry positions), inert-DV shedding shared by every partial-COW rewrite (_dv_shed in update_where/delete_rows/compact_small_files — the MoR anti-join tax can only shrink), every-entry legacy-DV-key validation (mixed-key vectors fail loudly on all faces), rename-safe CDF/stream planning (physical names resolve through the LATEST manifest, so a rename committed after a range end can no longer silently null-fill), and a SQL-text DML face (sources/table_sql.py: UPDATE/DELETE/OPTIMIZE [TARGET|ZORDER BY]/VACUUM statements routed onto the API, fail-loud grammar — tests/test_table_sql.py) — the Iceberg contracts (reference lakehouse_part1_load_data.py:346-409 metadata walk, :505-508 Spark iceberg write; lakehouse_part2_spark_processing.py:163-188 catalog config) without the runtime jar; pluggable CommitProtocol (POSIX link / object-store conditional-PUT seam)", "tests/test_table_log.py"),
    "T11": ("streaming/job.py run_pipeline(available_now=True) — Trigger.AvailableNow drain-then-stop with checkpoint resume", "tests/test_streaming.py"),
    "TX11": ("operators/bpe.py bpe_encode_batch — Arrow-batched BPE tokenizer application (memoized per-word merge chain)", "tests/test_text.py"),
    "T12": ("streaming/job.py parse_envelope(observed=True) — DataFrame.observe data-quality counters (rows/malformed per micro-batch)", "tests/test_streaming.py"),
    "T13": ("streaming/ingest.py — curation-at-ingest: stateless quality/langid/fingerprint features + chunking (batch-run-is-the-oracle twins), watermark-bounded in-flight exact dedup, IVF list assignment at ingest, (r10) minhash_ingest_handler — exactly-once near-dup drop at ingest over the logged MinHash sets+bands index (keep-first policy, per-batch delta provably equals the incremental_near_dups operator's pair set), and (r8) scrub_ingest_handler — exactly-once ExactSubstr scrub-at-ingest over the logged positioned-hash index (both appends idempotent-txn'd; curated table provably equals the full-corpus batch scrub under monotonic ids)", "tests/test_streaming_ingest.py"),
    "PIPE9": ("operators/chunking.py chunk_documents — overlapping token-window RAG chunking (map-only, codegen windows + explode)", "tests/test_text.py"),
    "P1": ("df.select/alias — pervasive", "all queries"),
    "P2": ("withColumn/Renamed/drop — pervasive", "all queries"),
    "T1": ("streaming/job.py withWatermark", "tests/test_streaming.py"),
    "T2": ("streaming/job.py alerts_stream", "tests/test_streaming.py + capacity_alerts_batch"),
    "T3": ("streaming/job.py latest_state_agg + latest_state_stateful", "tests/test_streaming.py + latest_bus_state_batch"),
    "T4": ("streaming/job.py run_pipeline overwrite sink", "tests/test_streaming.py"),
    "T5": ("streaming/job.py run_pipeline dual queries", "tests/test_streaming.py"),
    "T6": ("streaming/replay.py", "tests/test_streaming.py, test_integration.py"),
    "T7": ("watermark semantics (T1) + file-source ordering", "tests/test_streaming.py"),
    "T8": ("streaming/job.py relief_join — stream-stream interval join, inner + left-outer", "tests/test_streaming.py"),
    "T9": ("streaming/job.py windowed_boardings / session_boardings / deduped_updates / enriched_alerts", "tests/test_streaming.py"),
    "T10": ("streaming/job.py upsert_state_sink — foreachBatch MERGE upsert (CDC shape)", "tests/test_streaming.py"),
    "ORCH1": ("streaming/manager.py StreamingWorkerManager — start/stop/status/healthy over StreamingQuery handles (SURVEY §3 orchestration plane; webapp main.py:74-192 + pyspark_service.py:307-344 equivalent)", "tests/test_streaming.py"),
    "U3": ("streaming/job.py _update_state_fn (applyInPandasWithState)", "tests/test_streaming.py"),
    "F3": ("regexp_replace (scalar_gauntlet F2 path) + replay ts-shift", "tests/test_streaming.py"),
    "F21": ("concat_ws/date_format ride ids (operators/simulation.py)", "generated_rides query"),
    "A9": ("subsumed: groupBy().avg() in-engine (SURVEY §2.4 A9 note)", "corpus_quality_by_source"),
    "O4": ("df.sample(seed)/distinct().limit() — presentation-only (SURVEY §2.6)", "n/a by design"),
    "M1": ("plans/ddl.py show_tables", "tests/test_io_ddl.py"),
    "M2": ("plans/ddl.py describe_table", "tests/test_io_ddl.py"),
    "M3": ("plans/ddl.py create/use_namespace", "tests/test_io_ddl.py"),
    "M4": ("sources/table_log.py snapshots_table/files_table — native metadata introspection (snapshot history, per-file size/row-count/partition from parquet footers), the tbl.snapshots/tbl.files twins; Iceberg's own metadata tables remain runtime-gated on the jar", "tests/test_table_log.py"),
    "M5": ("operators/profiling.py profile_table — single-pass per-column stats (nulls, HLL distinct, min/max) + stack unpivot", "tests/test_io_ddl.py"),
    "DD9": ("persisted steady-state forms (r10): operators/dedup.py build/append_minhash_index_logged + near_dups_batch_logged — the MinHash sets+bands index as a snapshot-versioned logged table pair (two-table exactly-once txn appends, order-independent batch queries, time travel), joining the ExactSubstr (build_substr_index_logged) and IVF-SQ8 logged indexes", "tests/test_dedup.py"),
}

# Queries demoted from the driver registry (rotation-capacity endgame,
# r10) keep pytest-only coverage: surface them as STATIC-style notes,
# not as driver-query rows.
import __spark_entry__ as _entry  # noqa: E402

DEMOTED_NOTES = {
    "bpe_merges": ("TX10", (
        "— (r10: demoted to pytest-only, see endgame note)",
        "operators/bpe.py learn_bpe_local — python-reference equivalence "
        "+ distributed/local parity, tests/test_text.py",
    )),
    "scrub_spans_meta": ("DD8", (
        "— (r11: canary retired to pytest twin, see endgame note)",
        "projection of the shared scrub result; oracle-checked every "
        "pytest run + frame-identity twin, tests/test_inventory_oracle.py",
    )),
    "scrub_text_digest": ("DD8", (
        "— (r11: canary retired to pytest twin, see endgame note)",
        "md5 projection of the shared scrub result; oracle-checked every "
        "pytest run + frame-identity twin, tests/test_inventory_oracle.py",
    )),
}
assert set(DEMOTED_NOTES) == set(_entry._DRIVER_EXCLUDE), (
    "gen_coverage DEMOTED_NOTES out of sync with __spark_entry__._DRIVER_EXCLUDE"
)

by_op: dict[str, list[str]] = defaultdict(list)
for name, q in QUERIES.items():
    if name in DEMOTED_NOTES:
        continue
    for op in q.operators:
        by_op[op].append(name + ("" if q.oracle else " (rows-only)"))


def sort_key(op: str):
    import re

    m = re.match(r"([A-Z]+)(\d+)", op)
    return (m.group(1), int(m.group(2))) if m else (op, 0)


print("# COVERAGE — SURVEY.md §2 operator inventory → implementation\n")
print("Generated by tools/gen_coverage.py. Query names refer to the")
print("`__spark_entry__.queries()` inventory; every non-(rows-only) query is")
print("hash-checked against its DuckDB oracle at sf0.01 (t2 gate).\n")
print("| op | queries covering it | notes |")
print("|---|---|---|")
demoted_by_op: dict[str, list[str]] = defaultdict(list)
for q_name, (op, cells) in DEMOTED_NOTES.items():
    demoted_by_op[op].append((q_name, cells))
ops = sorted(set(by_op) | set(STATIC) | set(demoted_by_op), key=sort_key)
for op in ops:
    if op in demoted_by_op and op not in by_op:
        # op has no live driver query left: every demoted entry gets its
        # own row (review finding: [0] silently dropped co-demotions)
        for _q_name, (q_cell, note) in sorted(demoted_by_op[op]):
            print(f"| {op} | {q_cell} | {note} |")
        continue
    queries = ", ".join(sorted(by_op.get(op, []))) or "—"
    static = STATIC.get(op)
    note = f"{static[0]} — {static[1]}" if static else ""
    if op in demoted_by_op:
        # op still covered by live queries: surface the retired ones in
        # the notes column so the mapping stays line-by-line auditable
        retired = "; ".join(
            f"`{q_name}` retired to pytest ({cells[1]})"
            for q_name, cells in sorted(demoted_by_op[op])
        )
        note = f"{note}; {retired}" if note else retired
    print(f"| {op} | {queries} | {note} |")

driver = {n: q for n, q in QUERIES.items() if n not in DEMOTED_NOTES}
n_oracle = sum(1 for q in driver.values() if q.oracle)
print(f"""
{len(driver)} driver queries ({n_oracle} oracle-checked, {len(driver) - n_oracle} rows-only non-SQL-expressible)
+ {len(DEMOTED_NOTES)} pytest-only demotions (`bpe_merges` r10; `scrub_spans_meta`,
`scrub_text_digest` r11 — see below).

**Rotation-capacity endgame (r10 policy, VERDICT r9 item #3; completed
r11):** the driver inventory is frozen. r10: the 2-round-union contract
forced the 48 r8-recorded rows into CORRECTNESS_r10's 50 slots, leaving
two — but THREE red scrub rows needed fresh green evidence after the
HUGEINT oracle-cast fix, so `bpe_merges` (TX10, rows-only by design,
with a strictly-stronger python-reference equivalence test in
tests/test_text.py) was demoted to free the third slot. r10 recorded
the whole scrub family hash-green, so r11 executed the policy's second
half: the two bisecting canaries (`scrub_spans_meta`,
`scrub_text_digest`) retire to pytest — each stays registered in
plans/inventory (so tests/test_inventory_oracle.py still oracle-checks
them every run, and bench.py still times them) but leaves the driver
surface via `__spark_entry__._DRIVER_EXCLUDE`; an explicit twin
(test_scrub_canary_twins) additionally pins each as a projection of the
driver-checked `scrub_duplicated_spans` frame. Driver surface: 95/100.
All new coverage routes through widened queries or pytest-only
machinery; registering past 100 requires retiring a slot first
(driver_sim --gate fails loudly).""")
