"""``format("table_log")``: a PySpark custom data source over the logged
table format — the native face of what the reference gets from Iceberg's
Spark integration (`spark.read.format("iceberg")`,
lakehouse_part1_load_data.py:505-508; streaming reads of catalog tables,
code/pyspark-job.py:121-131).

Built on Spark 4's Python DataSource API (pyspark.sql.datasource):

  * BATCH: ``spark.read.format("table_log").load(path)`` — one input
    partition per manifest data file (snapshot-pinned, so a concurrent
    append never changes a running scan), Arrow record batches from the
    workers (never row-at-a-time Python), schema-evolution conform
    applied per file (rename/widen/add) from the manifest contract.
    ``option("snapshot", n)`` time-travels. Filters push down as
    PRUNE-ONLY split planning (r11): manifest column bounds + hive
    partition values skip files that provably cannot match, and Spark
    re-applies every filter on what remains.
  * STREAMING: ``spark.readStream.format("table_log").load(path)`` —
    offsets ARE snapshot ids, so Spark's own checkpointing provides
    exactly-once consumption of appends (the Delta streaming-source
    contract, same semantics as table_log.table_changes). Rewrites or
    deletes in the range fail the stream (``ignoreRewrites`` skips
    them, the no-retraction trade); a schema-changing alter fails the
    stream with a restart instruction, like Delta's schema-change stop.
  * CHANGE DATA FEED (r11): ``option("readChangeFeed", "true")`` on
    either face — rows plus ``_change_type`` ('insert' | 'delete' |
    'update_preimage' | 'update_postimage') and ``_commit_snapshot``,
    Delta's readChangeFeed. Merge-on-read deletes are RESOLVED to
    retraction rows instead of stopping the stream (retractions travel
    as data records — Structured Streaming sources are append-only,
    exactly how Delta ships CDC); COW update_where / delete_rows /
    merge emit from their ``_changes/`` sidecars (r12); row-preserving
    maintenance (compact / zorder) is invisible; batch supports
    ``startingSnapshot`` (exclusive) / ``endingSnapshot`` (inclusive).
    Shares tl._changes_walk with table_changes_feed, one walk for every
    face.

Scale shape: driver-side work is manifest JSON only (file lists +
bounds); each worker reads exactly one immutable parquet file via
pyarrow and yields record batches. At 100 TB a micro-batch plans
O(new files) partitions regardless of table size.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from open_data_lakehouse_demo_spark.sources import table_log as tl

@dataclass
class _FilePart(InputPartition):
    """One manifest data file + everything a worker needs to conform it
    to the query schema without any driver callback: the absolute path,
    per-field historical physical names, the hive-style partition
    values parsed from the relative path (single-file pyarrow reads do
    not synthesize partition columns), and this file's deleted row
    positions from the snapshot's deletion vectors (merge-on-read).

    A CDF **delete** part comes in two plan shapes (r13), positions
    worker-side in both — they never transit the driver or the
    serialized partition (the same distribution contract as the feed's
    _dv_delta_df): a SCATTER part (``dv_files`` non-empty) is one DATA
    file plus the small sidecars that name it, one part per touched
    file — full per-file parallelism for a delete that grazes many
    files; a BULK part (``dv_files`` empty) is one big SIDECAR
    (``abs_path`` IS the vector), the worker resolving the data files
    it names under ``root`` — per-writer-task parallelism with zero
    planning reads."""

    abs_path: str
    fields: list = field(default_factory=list)  # [(name, [phys...]), ...]
    part_values: dict = field(default_factory=dict)  # {col: raw string}
    deleted: list = field(default_factory=list)  # sorted row indices
    # change-feed parts only (option("readChangeFeed", "true")):
    change_type: str = ""  # "" = plain scan part; "insert" | "delete"
    commit_snapshot: int = -1  # insert/delete parts: committing snapshot
    root: str = ""  # delete parts: table root for resolving data files
    dv_files: list = field(default_factory=list)  # scatter delete parts:
    # [(abs DV sidecar path, committing snapshot)] naming THIS data file


#: CDF delete planning threshold (r13): a deletion-vector sidecar at or
#: under this footer row count is planned per-DATA-FILE (the planner
#: reads its bounded __fname column — a few MB of strings at worst,
#: never positions); above it, per-SIDECAR with zero planning reads.
#: Balances scatter-delete parallelism against driver transit on bulk
#: deletes.
_DV_FANOUT_PLAN_ROWS = 100_000


def _partition_values(rel_path: str) -> dict:
    return tl._partition_raw_values(rel_path)


def _deleted_positions(path: str, m: dict) -> dict:
    """Driver-side: the snapshot's deletion vectors grouped per data
    file ({rel_path: [row_index, ...]}); MoR's premise is deletes ≪
    data, so this is a small metadata read. Legacy basename-keyed
    vectors fail loudly (tl._reject_legacy_dv_keys) — silently skipping
    a key that matches no manifest path would RESURRECT deleted rows,
    the exact corruption mode the Python read path refuses."""
    dv_files = m.get("delete_vectors") or []
    if not dv_files:
        return {}
    import pyarrow.parquet as pq

    tl._reject_legacy_dv_keys(
        None, [os.path.join(path, dv) for dv in dv_files]
    )
    present = set(m["files"])
    out: dict = {}
    for dv in dv_files:
        t = pq.read_table(os.path.join(path, dv))
        for fname, ri in zip(t.column("__fname").to_pylist(),
                             t.column("__ri").to_pylist()):
            if fname in present:
                out.setdefault(fname, []).append(ri)
    return out


def _file_partitions(path: str, m: dict, files: list[str], schema,
                     resolve_m: dict | None = None) -> list:
    """``resolve_m`` overrides the manifest used for physical-name
    resolution (r12 ADVICE: a streaming range's emit manifest may
    predate a rename the query schema already reflects — the stream's
    schema re-resolves to LATEST on restart, so names must map through
    the latest manifest's full history; batch snapshot reads keep the
    pinned manifest, whose schema and names agree by construction)."""
    rm = resolve_m if resolve_m is not None else m
    fields = [(f.name, tl._phys_names(rm, f.name)) for f in schema.fields]
    deleted = _deleted_positions(path, m)
    return [
        _FilePart(
            abs_path=os.path.join(path, f),
            fields=fields,
            part_values=_partition_values(f),
            deleted=sorted(deleted.get(f, [])),
        )
        for f in files
    ]


def _conform_table(part: _FilePart, arrow_schema):
    """Worker-side: read ONE immutable parquet file and conform it to
    the given Arrow schema — resolve each field through its historical
    physical names (exactly one exists per file), null-fill absent
    fields (pre-add files), cast narrow physical types up (pre-widen
    files), materialize hive partition values, and drop this file's
    deleted row positions (merge-on-read) when the part carries any.
    Returns one pyarrow Table; row order is FILE order when
    part.deleted is empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(part.abs_path)
    if part.deleted:
        # merge-on-read: drop this file's deleted row positions before
        # conforming (row order in the read table IS file order)
        import numpy as np

        keep = np.ones(tbl.num_rows, dtype=bool)
        keep[part.deleted] = False
        tbl = tbl.filter(pa.array(keep))
    n = tbl.num_rows
    arrays = []
    for (name, phys), target in zip(part.fields, arrow_schema):
        col = None
        for p in phys:
            if p in tbl.column_names:
                col = tbl.column(p)
                break
        if col is not None:
            arr = col.cast(target.type) if col.type != target.type else col
        elif name in part.part_values:
            raw = part.part_values[name]
            if raw == "__HIVE_DEFAULT_PARTITION__":
                # the NULL-partition marker is a path encoding, not a
                # value — materialize NULL like table_log.read() does
                arr = pa.nulls(n, type=target.type)
            else:
                arr = pa.array([raw] * n).cast(target.type)
        else:
            arr = pa.nulls(n, type=target.type)
        arrays.append(arr)
    return pa.table(arrays, schema=pa.schema(list(arrow_schema)[: len(arrays)]))


def _read_file_part(part: _FilePart, arrow_schema):
    """Yield Arrow batches for one plain-scan file part."""
    yield from _conform_table(part, arrow_schema).to_batches()


def _read_cdf_part(part: _FilePart, arrow_schema):
    """Yield Arrow batches for one change-feed part: the conformed table
    rows plus the _change_type/_commit_snapshot metadata columns. An
    insert part emits the WHOLE file stamped with its committing
    snapshot; a delete part (r13) reads its positions HERE, never at
    planning — a scatter part (``dv_files``) conforms its one data
    file and takes each small sidecar's positions for it; a bulk part
    (``abs_path`` IS the sidecar) reads the vector — validating every
    key, the legacy/NULL-key guard — groups its positions per named
    data file, and emits each file's retracted rows. Positions index
    FILE order (conform preserves it); rows are stamped with the
    deleting snapshot; worker memory is O(one DV part file), the
    same bound as the task that wrote it. A change_data part reads a
    ``_changes/`` sidecar (r12: COW update/delete at commit time),
    whose ``_change_type`` is DATA in the file — its fields list
    includes it — stamped with the committing snapshot."""
    import pyarrow as pa

    if part.change_type == "change_data":
        # conform through table fields + the sidecar's own _change_type
        base = pa.schema(list(arrow_schema)[:-1])
        tbl = _conform_table(part, base)
        snaps = pa.array([part.commit_snapshot] * tbl.num_rows, type=pa.int64())
        out = tbl.append_column("_commit_snapshot", snaps)
        yield from out.cast(pa.schema(list(arrow_schema))).to_batches()
        return
    base = pa.schema(list(arrow_schema)[:-2])
    full = pa.schema(list(arrow_schema))

    def stamp(tbl, snap):
        n = tbl.num_rows
        return tbl.append_column(
            "_change_type",
            pa.array([part.change_type] * n, type=pa.string()),
        ).append_column(
            "_commit_snapshot", pa.array([snap] * n, type=pa.int64()),
        )

    if part.change_type == "insert":
        tbl = _conform_table(part, base)
        yield from stamp(tbl, part.commit_snapshot).cast(full).to_batches()
        return
    import pyarrow.parquet as pq

    if part.dv_files:
        # scatter part: ONE data file, retractions gathered from each
        # small sidecar that names it
        rel = os.path.relpath(part.abs_path, part.root)
        tbl = _conform_table(part, base)
        for dv_abs, snap in part.dv_files:
            t = pq.read_table(dv_abs)
            fnames = t.column("__fname").to_pylist()
            tl._assert_dv_keying(dv_abs, fnames)
            idx = sorted(
                ri for f, ri in zip(fnames, t.column("__ri").to_pylist())
                if f == rel
            )
            if idx:
                sub = tbl.take(pa.array(idx, type=pa.int64()))
                yield from stamp(sub, snap).cast(full).to_batches()
        return
    # bulk part: abs_path is the deletion-vector sidecar itself
    t = pq.read_table(part.abs_path)
    fnames = t.column("__fname").to_pylist()
    tl._assert_dv_keying(part.abs_path, fnames)
    per: dict[str, list] = {}
    for f, ri in zip(fnames, t.column("__ri").to_pylist()):
        per.setdefault(f, []).append(ri)
    for f in sorted(per):
        data_part = _FilePart(
            abs_path=os.path.join(part.root, f), fields=part.fields,
            part_values=_partition_values(f),
        )
        tbl = _conform_table(data_part, base)
        tbl = tbl.take(pa.array(sorted(per[f]), type=pa.int64()))
        yield from stamp(tbl, part.commit_snapshot).cast(full).to_batches()


def _arrow_schema(schema):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


def _cdf_partitions(path: str, lo: int, hi: int, schema,
                    ignore_rewrites: bool, inspect=None) -> list:
    """Driver-side planning for a change-feed range ``(lo, hi]``: one
    insert part per appended file (stamped with its committing
    snapshot), delete parts for the range's NEW deletion vectors, and
    one change_data part per ``_changes/`` sidecar file recorded by an
    in-range COW update/delete (r12). Shares tl._changes_walk with
    table_changes_feed, so the DataFrame face and the data-source face
    cannot drift.

    Delete planning (r13, completing the feed's _dv_delta_df fix on
    this face): positions NEVER materialize on the driver or in the
    serialized partitions. A SMALL vector (footer row count ≤
    _DV_FANOUT_PLAN_ROWS) gets one part per data file it names — the
    planner reads only its bounded ``__fname`` column (key guard runs
    here, as on the plain-scan planner), so a scatter delete grazing
    hundreds of files keeps r12's per-file read parallelism. A BIG
    vector (a bulk delete) gets one part carrying just the vector's
    FILE PATH + committing snapshot, resolved entirely worker-side
    (key guard in the partition reader) — parallelism tracks the
    delete's own write parallelism (one part per DV part file, each
    written by one deleting task). Honest worst case: ONE writer task
    that deleted >threshold positions across many files serializes
    those file reads in one part; compaction clears its vectors.

    Physical column names resolve through the LATEST manifest, not the
    range-end one (r12 ADVICE): the query schema comes from the latest
    snapshot, so a rename committed AFTER the range end (batch
    endingSnapshot before a rename; a restarted stream re-resolving its
    schema and replaying an old range) must map the new name back
    through its full history — the latest map is current-first and
    includes every historical name, and an unrenamed column falls back
    to itself either way. Null-fill remains only for genuinely pre-add
    files."""
    ins, dvd, chg = tl._changes_walk(path, lo, hi, ignore_rewrites,
                                     inspect=inspect)
    latest_m = tl._read_manifest(path, tl._list_snapshots(path)[-1])
    fields = [(f.name, tl._phys_names(latest_m, f.name))
              for f in schema.fields if f.name not in tl._CDF_COLS]
    parts = []
    for f, s in sorted(ins.items()):
        parts.append(_FilePart(
            abs_path=os.path.join(path, f), fields=fields,
            part_values=_partition_values(f),
            change_type="insert", commit_snapshot=s,
        ))
    if dvd:
        import pyarrow.parquet as pq

        scatter: dict[str, list] = {}  # data fname -> [(abs dv, snap)]
        for dv, s in sorted(dvd.items()):
            abs_dv = os.path.join(path, dv)
            if (pq.ParquetFile(abs_dv).metadata.num_rows
                    <= _DV_FANOUT_PLAN_ROWS):
                fnames = pq.read_table(
                    abs_dv, columns=["__fname"]).column("__fname").to_pylist()
                tl._assert_dv_keying(dv, fnames)
                for f in dict.fromkeys(fnames):
                    scatter.setdefault(f, []).append((abs_dv, s))
            else:
                parts.append(_FilePart(
                    abs_path=abs_dv, fields=fields,
                    change_type="delete", commit_snapshot=s, root=path,
                ))
        for f, dvs in sorted(scatter.items()):
            parts.append(_FilePart(
                abs_path=os.path.join(path, f), fields=fields,
                part_values=_partition_values(f),
                change_type="delete", root=path, dv_files=dvs,
            ))
    # sidecars: _change_type is data in the file; partition values are
    # embedded as ordinary columns (no hive segments in the rel path)
    cd_fields = fields + [("_change_type", ["_change_type"])]
    for f, s in sorted(chg.items()):
        parts.append(_FilePart(
            abs_path=os.path.join(path, f), fields=cd_fields,
            change_type="change_data", commit_snapshot=s,
        ))
    return parts


def _resolve_snapshot(options) -> int | None:
    """Batch time travel: option("snapshot", n) by id, option("tag",
    name) by immutable ref, option("asOfTimestamp", ms) by commit time
    (Iceberg's VERSION AS OF / FOR SYSTEM_TIME AS OF). None = latest."""
    path = options["path"]
    given = [k for k in ("snapshot", "tag", "asoftimestamp") if k in options]
    if len(given) > 1:
        raise ValueError(f"pass at most one of snapshot/tag/asOfTimestamp, got {given}")
    if "snapshot" in options:
        return int(options["snapshot"])
    if "tag" in options:
        refs = tl.tags(path)
        name = options["tag"]
        if name not in refs:
            raise ValueError(f"no tag {name!r}; have {sorted(refs)}")
        return refs[name]
    if "asoftimestamp" in options:
        return tl._snapshot_asof(path, int(options["asoftimestamp"]))
    return None


class _TableLogBatchReader(DataSourceReader):
    def __init__(self, schema, options):
        self.path = options["path"]
        self.snapshot = _resolve_snapshot(options)
        self.schema = schema
        self.arrow_schema = _arrow_schema(schema)
        self.where: list[tuple] = []  # populated by the pushdown subclass

    def partitions(self):
        snaps = tl._list_snapshots(self.path)
        snap = self.snapshot if self.snapshot is not None else snaps[-1]
        m = tl._read_manifest(self.path, snap)
        files = m["files"]
        if self.where:
            stats_map = m.get("file_stats", {})
            files = [
                f for f in files
                if tl._may_match(
                    stats_map.get(f),
                    tl._translate_where(m, self.where, stats_map.get(f)),
                )
            ]
        parts = _file_partitions(self.path, m, files, self.schema)
        # an empty table still needs one no-op partition (the API
        # requires at least one)
        return parts or [_FilePart(abs_path="")]

    def read(self, part):
        if not part.abs_path:
            return iter([])
        return _read_file_part(part, self.arrow_schema)


class _TableLogBatchReaderPushdown(_TableLogBatchReader):
    """The batch reader + Spark 4.1 pushFilters, selected by
    ``option("pushdown", "true")``. A SEPARATE class because merely
    implementing pushFilters makes Spark fail every read when
    ``spark.sql.python.filterPushdown.enabled`` is false (the default)
    — a plain session must keep reading this format; opting in takes
    the option AND the conf (session.get_spark sets the conf)."""

    def pushFilters(self, filters):
        """PRUNE-ONLY filter pushdown: simple single-column comparisons
        are translated to the table's predicate form and used in
        partitions() to SKIP files whose manifest column bounds prove
        no row can match — the same driver-side planning Iceberg/Delta
        do before handing splits to the engine (shared machinery:
        tl._may_match + tl._translate_where, so rename-aware stats and
        hive partition values prune here too). EVERY filter is returned
        to Spark for re-evaluation, so correctness never depends on the
        pruning — bounds only ever prove absence. At 100 TB this is the
        difference between opening every file of a table and opening
        the files a predicate actually touches."""
        ops = {
            EqualTo: "=", GreaterThan: ">", GreaterThanOrEqual: ">=",
            LessThan: "<", LessThanOrEqual: "<=",
        }
        for f in filters:
            op = ops.get(type(f))
            if (op is not None and len(f.attribute) == 1
                    and isinstance(f.value, (int, float, str))
                    and not isinstance(f.value, bool)):
                self.where.append((f.attribute[0], op, f.value))
        return filters  # Spark applies everything; we only pruned splits


def _stop_on_schema_change(want):
    """Delta-style schema-change stop for the streaming readers: a
    snapshot in the range whose committed contract differs from the
    QUERY's schema stops the stream — explicit alters, an append whose
    additive union evolved the schema, AND a rewrite that changed it
    (e.g. overwrite with a new column): silently conforming away the
    new column would lose data with no retraction, and ignoreRewrites
    waives ROW changes, never contract changes. A change that predates
    the stream — or a restart that already picked it up — matches
    exactly and passes. ``want`` = [(name, type), ...] of the query's
    TABLE columns (CDF metadata columns excluded by the caller)."""

    def inspect(s, m, kind):
        if (kind in ("metadata", "rewrite", "maintenance")
                or (kind == "append" and m.get("schema_evolved"))):
            got = [
                (f["name"], f["type"])
                for f in json.loads(m["schema"])["fields"]
            ]
            if got != want:
                raise ValueError(
                    f"snapshot {s} ({m['operation']}) changed the table "
                    "schema; restart the stream to pick up the new "
                    "contract (offsets are snapshot ids, so the "
                    "checkpoint remains valid; if the change predates "
                    "the offsets you need, start a fresh checkpoint "
                    "with option('startingSnapshot', ...))"
                )

    return inspect


class _TableLogStreamReader(DataSourceStreamReader):
    """Offsets are snapshot ids: {"snapshot": n} means 'everything
    through snapshot n has been delivered'.

    ``option("maxSnapshotsPerTrigger", n)`` rate-limits admission
    (Delta's maxFilesPerTrigger): every micro-batch advances at most n
    snapshots past the stream's position, so a bursty upstream (a
    compaction storm, a bulk load committed while the stream runs)
    drains as many bounded batches instead of one giant one. A FRESH
    query's first batch is bounded too (r13): its start is known at
    construction (``startingSnapshot`` / -1 default), so the first
    latestOffset() caps at ``start + n``. HONEST LIMIT, narrowed from
    r12: only a RESTARTED query's first batch is unbounded — the
    Python DataSource offset API calls latestOffset() before this
    reader has seen the checkpointed position (no
    SupportsAdmissionControl surface), and capping relative to the
    option's start would hand Spark an offset BEHIND the checkpoint.
    The fresh/restart distinction is measured, not assumed: on every
    restart path (clean stop, and crash with an uncommitted last
    batch) the engine REPLAYS partitions(checkpointed range) before
    its first latestOffset() call, so ``_pos is None`` inside
    latestOffset() can only mean a fresh query; the offsets-handling
    reader is one long-lived process, so the learned position never
    resets mid-query. Trade documented for Trigger.AvailableNow: the
    engine latches the FIRST latestOffset() as the run's stop target
    (measured), so a fresh AvailableNow run with this option drains n
    snapshots per run — repeated runs catch up — where before it
    processed the whole backlog as one unbounded batch (the exact
    thing the option asks to prevent). Measured shape: ends advance
    in exact n-snapshot steps from trigger ONE on fresh queries
    (tests/test_table_source.py)."""

    def __init__(self, schema, options):
        self.path = options["path"]
        self.ignore_rewrites = options.get("ignorerewrites", "false") == "true"
        self.start_snapshot = int(options.get("startingsnapshot", "-1"))
        raw = options.get("maxsnapshotspertrigger")
        self.max_per_trigger = int(raw) if raw is not None else 0
        if raw is not None and self.max_per_trigger <= 0:
            # reject 0 explicitly (r12 review): a user writing 0 for
            # "tightest batches" would silently get UNBOUNDED ones
            raise ValueError("maxSnapshotsPerTrigger must be >= 1")
        self._pos: int | None = None  # last offset handed out / replayed
        self._first_capped = False  # first latestOffset used the fresh cap
        self.schema = schema
        self.arrow_schema = _arrow_schema(schema)

    def _learn(self, offset: int) -> None:
        """THE position-tracking rule (one spot — r12 review): the
        stream's admission position only ever moves forward, learned
        from every offset this reader hands out or sees replayed."""
        self._pos = max(offset, self._pos if self._pos is not None else offset)

    def initialOffset(self) -> dict:
        self._learn(self.start_snapshot)
        return {"snapshot": self.start_snapshot}

    def latestOffset(self) -> dict:
        # NOTE (measured, r13): the JVM calls latestOffset BEFORE
        # initialOffset on a fresh query, but on EVERY restart path it
        # replays partitions(checkpointed range) first — so _pos is
        # None here only on a fresh query, whose start the options
        # already pin (startingSnapshot / -1 default). Fresh first
        # batch: capped at start + n. Restarted first batch: unbounded
        # (the checkpointed position is invisible until the replay),
        # per the class docstring's honest limit.
        snaps = tl._list_snapshots(self.path)
        latest = snaps[-1] if snaps else -1
        floor = self._pos if self._pos is not None else self.start_snapshot
        if self.max_per_trigger:
            if self._pos is None:
                self._first_capped = True
            latest = min(latest, floor + self.max_per_trigger)
        # never hand out an offset BEHIND the stream's start/position
        # (r13 review, confirmed live): a future-start query
        # (startingSnapshot ahead of the log) used to return the real
        # latest, the engine WAL'd the regressed end as the stream
        # position, and later batches delivered the snapshots the
        # option had excluded
        latest = max(latest, floor)
        self._learn(latest)
        return {"snapshot": latest}

    def _empty_range(self, lo: int, hi: int) -> bool:
        """Range admission shared by both stream readers' partitions():
        learns the replayed position and reports whether the range is
        empty. TRIPWIRE (r13): ``hi < lo`` with ``lo`` ahead of the
        constructed start, after the first latestOffset() used the
        fresh-start cap, means the engine holds a checkpoint this
        reader never saw — a restart path that skipped the measured
        partitions-replay. Never observed (clean stop and mid-batch
        crash both replay first), but if a future engine version took
        such a path the capped offset would already sit BEHIND the
        checkpoint in the WAL, and silently returning an empty batch
        here would let the stream re-deliver the gap on the next
        restart. Fail loudly instead; restarting without
        maxSnapshotsPerTrigger (or from a fresh checkpoint) recovers."""
        if hi < lo and self._first_capped and lo > self.start_snapshot:
            raise ValueError(
                f"stream range ({lo}, {hi}] runs backwards after a "
                "fresh-start-capped first offset: the engine restored a "
                "checkpoint this reader never learned (unmeasured "
                "restart path). Restart the query without "
                "maxSnapshotsPerTrigger for one run, or start a fresh "
                "checkpoint — continuing could re-deliver rows"
            )
        self._learn(lo)
        self._learn(hi)
        return hi <= lo

    def _want(self):
        return [
            (f.name, json.loads(f.json())["type"]) for f in self.schema.fields
        ]

    def partitions(self, start: dict, end: dict):
        lo, hi = start["snapshot"], end["snapshot"]
        # replay after a restart: re-learn the stream position so the
        # NEXT latestOffset caps relative to it
        if self._empty_range(lo, hi):
            return [_FilePart(abs_path="")]
        inspect = _stop_on_schema_change(self._want())

        new_files = tl.walk_appends(
            self.path, lo, hi,
            ignore_rewrites=self.ignore_rewrites, inspect=inspect,
        )
        end_m = tl._read_manifest(self.path, hi)
        # Deletion vectors are deliberately NOT applied to the emitted
        # appends — the same no-retraction contract as table_changes
        # (the other face of the shared walk_appends): appended content
        # is immutable once emitted, and a MoR delete in the range
        # already surfaced as the rewrite error above (or was waived by
        # ignoreRewrites, Delta's ignoreDeletes trade — rows deleted in
        # the range are NOT retracted downstream). Applying the end
        # manifest's DVs here would make the two faces deliver different
        # rows for the same range.
        emit_m = {k: v for k, v in end_m.items() if k != "delete_vectors"}
        latest_m = tl._read_manifest(self.path, tl._list_snapshots(self.path)[-1])
        parts = _file_partitions(self.path, emit_m, new_files, self.schema,
                                 resolve_m=latest_m)
        return parts or [_FilePart(abs_path="")]

    def read(self, part):
        if not part.abs_path:
            return iter([])
        return _read_file_part(part, self.arrow_schema)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing to clean up


class _TableLogStreamCdfReader(_TableLogStreamReader):
    """``option("readChangeFeed", "true")`` streaming: Delta's streaming
    readChangeFeed. Each micro-batch delivers the range's changes AS
    ROWS — appended rows with _change_type='insert', merge-on-read
    deletes RESOLVED to full rows with _change_type='delete' — plus the
    _commit_snapshot that made the change. Structured Streaming sources
    are append-only, so retractions travel as data records (exactly how
    Delta ships CDC); the downstream consumer applies them (e.g.
    foreachBatch MERGE, or table_log.sync_increment(keys=...) batch
    twin). delete_rows_mor in the range is therefore REPRESENTED, not a
    stream-stopping rewrite; copy-on-write rewrites still stop the
    stream unless ignoreRewrites."""

    def _want(self):
        # the two CDF metadata columns are ours, not the table's
        return [
            (f.name, json.loads(f.json())["type"])
            for f in self.schema.fields if f.name not in tl._CDF_COLS
        ]

    def partitions(self, start: dict, end: dict):
        lo, hi = start["snapshot"], end["snapshot"]
        if self._empty_range(lo, hi):
            return [_FilePart(abs_path="")]
        tl._require_history(self.path, lo, hi)
        parts = _cdf_partitions(
            self.path, lo, hi, self.schema, self.ignore_rewrites,
            inspect=_stop_on_schema_change(self._want()),
        )
        return parts or [_FilePart(abs_path="")]

    def read(self, part):
        if not part.abs_path:
            return iter([])
        return _read_cdf_part(part, self.arrow_schema)


class _TableLogBatchCdfReader(DataSourceReader):
    """``option("readChangeFeed", "true")`` batch: the data-source face
    of table_changes_feed (same tl._changes_walk, so they cannot
    drift). ``option("startingSnapshot", n)`` is EXCLUSIVE — changes
    strictly after n, matching the streaming offset meaning and
    table_changes_feed's from_snapshot; default -1 reads from the
    table's creation. ``option("endingSnapshot", n)`` (inclusive)
    bounds the range; default latest."""

    def __init__(self, schema, options):
        self.path = options["path"]
        self.schema = schema
        self.arrow_schema = _arrow_schema(schema)
        self.start = int(options.get("startingsnapshot", "-1"))
        self.end = (int(options["endingsnapshot"])
                    if "endingsnapshot" in options else None)
        self.ignore_rewrites = options.get("ignorerewrites", "false") == "true"

    def partitions(self):
        snaps = tl._list_snapshots(self.path)
        hi = snaps[-1] if self.end is None else self.end
        lo = self.start
        if hi <= lo:
            return [_FilePart(abs_path="")]
        tl._require_history(self.path, lo, hi)
        parts = _cdf_partitions(
            self.path, lo, hi, self.schema, self.ignore_rewrites
        )
        return parts or [_FilePart(abs_path="")]

    def read(self, part):
        if not part.abs_path:
            return iter([])
        return _read_cdf_part(part, self.arrow_schema)


@dataclass
class _StagedFiles(WriterCommitMessage):
    """Files one worker staged under the table's _staging/ dir, as
    ``(abs_path, rel_path_under_the_task's_staging_root)`` pairs — the
    rel part carries the hive partition dirs (``k=v/part-x.parquet``)
    so the driver-side publish can place each file in its final
    ``data/k=v/`` location without re-parsing anything."""

    staged: list = field(default_factory=list)


class _TableLogWriterBase:
    """Worker-side write shared by the batch and streaming writers.

    Each task streams its row iterator through fixed-size chunks
    (``option("chunkRows", n)``, default 65536) into pyarrow
    ParquetWriters — one per destination file, each chunk an appended
    row group — so a skewed multi-GB Spark partition costs O(chunk)
    worker memory, never O(partition) (the Python DataSourceWriter API
    delivers rows, so SOME batching layer must exist; this one is
    constant-memory by construction).

    ``option("partitionBy", "a,b")`` writes hive-layout destinations:
    rows are routed by partition value to per-value files under
    ``k=v/`` dirs (partition columns excluded from the file contents,
    exactly like table_log._write_data_files / Spark's own layout).
    One ParquetWriter stays open per DISTINCT partition value seen by
    the task — repartition the stream by the partition columns first if
    values-per-task is unbounded (the same discipline Spark's native
    writer solves with its sort-based fallback).

    Only the driver-side commit moves files into data/ and claims a
    manifest, so a failed task leaves nothing visible (vacuum's
    age-gated staging sweep collects the garbage)."""

    def __init__(self, schema, options):
        self.path = options["path"]
        self.schema = schema
        self.chunk_rows = int(options.get("chunkrows", "65536"))
        if self.chunk_rows <= 0:
            raise ValueError("chunkRows must be positive")
        names = [f.name for f in schema.fields]
        pb = options.get("partitionby", "")
        self.partition_by = [c.strip() for c in pb.split(",") if c.strip()]
        missing = [c for c in self.partition_by if c not in names]
        if missing:
            raise ValueError(
                f"partitionBy column(s) {missing} not in the written "
                f"schema {names}"
            )
        full = _arrow_schema(schema)
        self._part_idx = [names.index(c) for c in self.partition_by]
        data_idx = [i for i, n in enumerate(names) if n not in self.partition_by]
        self._data_names = [names[i] for i in data_idx]
        # hive layout: partition values live in the path, not the file
        import pyarrow as pa

        self.file_arrow_schema = pa.schema([full.field(i) for i in data_idx])

    @staticmethod
    def _hive_segment(col: str, v) -> str:
        """One ``col=value`` path segment, Spark-compatible: NULL gets
        the hive default marker, booleans lowercase, everything else
        str() + ExternalCatalogUtils escaping."""
        if v is None:
            return f"{col}=__HIVE_DEFAULT_PARTITION__"
        if isinstance(v, bool):
            v = "true" if v else "false"
        return f"{col}={tl._escape_path_name(str(v))}"

    def write(self, iterator):
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        token = uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, "_staging", f"dsw-{token}")
        writers: dict[str, pq.ParquetWriter] = {}  # rel path -> writer

        def flush(chunk: list) -> None:
            groups: dict[str, list] = {}
            if self.partition_by:
                for row in chunk:
                    rel_dir = "/".join(
                        self._hive_segment(c, row[i])
                        for c, i in zip(self.partition_by, self._part_idx)
                    )
                    groups.setdefault(rel_dir, []).append(row)
            else:
                groups[""] = chunk
            names = [f.name for f in self.schema.fields]
            for rel_dir, rows in groups.items():
                rel = os.path.join(rel_dir, f"part-{token}.parquet") if rel_dir \
                    else f"part-{token}.parquet"
                w = writers.get(rel)
                if w is None:
                    dest = os.path.join(staging, rel)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    w = pq.ParquetWriter(dest, self.file_arrow_schema)
                    writers[rel] = w
                pdf = pd.DataFrame(rows, columns=names)[self._data_names]
                w.write_table(pa.Table.from_pandas(
                    pdf, schema=self.file_arrow_schema, preserve_index=False
                ))

        try:
            chunk: list = []
            for row in iterator:
                chunk.append(row)
                if len(chunk) >= self.chunk_rows:
                    flush(chunk)
                    chunk = []
            if chunk:
                flush(chunk)
        finally:
            for w in writers.values():
                w.close()
        return _StagedFiles(
            staged=[(os.path.join(staging, rel), rel) for rel in sorted(writers)]
        )

    def _publish(self, messages, txn):
        """Driver-side: move every staged file into its final data/
        location (hive dirs preserved) and claim one append manifest
        (tl._append_loop — optimistic retry, additive schema evolution,
        idempotent txn skip). Creates the table when absent — through
        the same reserved-__-prefix guard as table_log.create, so the
        data-source face can't mint a table whose column names later
        corrupt zorder/MoR internals; a creation race falls back to a
        plain append. A partitioned destination must be written with a
        matching ``partitionBy`` option (fail-loud: silently appending
        layout-less files to a partitioned table would null-fill the
        partition columns on read)."""
        import shutil
        import uuid

        staged = [e for m in messages if m is not None for e in m.staged]
        tl._reject_reserved_columns([f.name for f in self.schema.fields])
        token = uuid.uuid4().hex[:12]
        rels = []
        roots = set()
        for src, rel in staged:
            roots.add(src[: len(src) - len(rel) - 1])
            final_dir = os.path.join(tl._data_dir(self.path), os.path.dirname(rel))
            os.makedirs(final_dir, exist_ok=True)
            final = os.path.join(final_dir, f"{token}-{os.path.basename(rel)}")
            os.rename(src, final)
            rels.append(os.path.relpath(final, self.path))
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)  # now-empty staging tree
        rels.sort()
        schema_json = self.schema.json()
        if not tl._list_snapshots(self.path):
            try:
                tl._commit(
                    self.path,
                    0,
                    tl._manifest(
                        "create", rels, schema_json, self.partition_by or None,
                        {"txns": {txn[0]: txn[1]}} if txn else None,
                        file_stats=tl._collect_stats(self.path, rels, schema_json),
                    ),
                )
                return
            except tl.CommitConflict:
                pass  # another first-writer won: append onto their table

        def placed(partition_by):
            if (partition_by or []) != (self.partition_by or []):
                raise ValueError(
                    f"destination table is partitioned by {partition_by or []} "
                    f"but the writer declared partitionBy={self.partition_by} "
                    "— pass option('partitionBy', ...) matching the table "
                    "layout"
                )
            return rels

        tl._append_loop(self.path, placed, schema_json, txn)

    def _abort(self, messages):
        for m in messages:
            if m is None:
                continue
            for f, _rel in m.staged:
                try:
                    os.unlink(f)
                except FileNotFoundError:
                    pass


class _TableLogStreamWriter(_TableLogWriterBase, DataSourceStreamWriter):
    """spark.writeStream.format("table_log"): every micro-batch commits
    as ONE snapshot with txn=(writer id, batchId), so a replayed batch
    after a crash is skipped by the append idempotency contract —
    exactly-once end to end, the native-sink twin of
    table_log.foreach_batch_appender.

    ``option("writerId", ...)`` is REQUIRED, and must be unique per
    logical stream (Delta's txnAppId). There is deliberately no
    default: the obvious one (keyed to the destination path) makes two
    different queries writing the same table — or one query restarted
    with a fresh checkpoint, whose batchIds restart at 0 — share a txn
    high-water mark and silently SKIP each other's micro-batches, and
    the Python DataSource API exposes no per-query id to derive a safe
    default from."""

    def __init__(self, schema, options):
        super().__init__(schema, options)
        wid = options.get("writerid")
        if not wid:
            raise ValueError(
                "format('table_log') streaming writes require "
                "option('writerId', <unique id per logical stream>): it is "
                "the exactly-once transaction key (Delta's txnAppId), and a "
                "path-derived default would make a second writer — or a "
                "fresh-checkpoint restart — silently skip micro-batches "
                "whose batchId is below the other writer's high-water mark"
            )
        self.writer_id = wid

    def commit(self, messages, batchId) -> None:
        self._publish(messages, (self.writer_id, batchId))

    def abort(self, messages, batchId) -> None:
        self._abort(messages)


class _TableLogBatchWriter(_TableLogWriterBase, DataSourceWriter):
    """spark.read...write.format("table_log").mode("append"): one
    atomic append snapshot. Overwrite mode is intentionally unsupported
    (it needs the table_log.overwrite contract — evolution-metadata
    reset — on a DataFrame; use the API)."""

    def commit(self, messages) -> None:
        self._publish(messages, None)

    def abort(self, messages) -> None:
        self._abort(messages)


class TableLogDataSource(DataSource):
    """`spark.dataSource.register(TableLogDataSource)` then
    `spark.read.format("table_log").load(path)` /
    `spark.readStream.format("table_log").load(path)`."""

    @classmethod
    def name(cls) -> str:
        return "table_log"

    def _cdf(self) -> bool:
        return self.options.get("readchangefeed", "false").lower() == "true"

    def schema(self):
        snaps = tl._list_snapshots(self.options["path"])
        if not snaps:
            raise ValueError(f"no table at {self.options['path']}")
        snap = _resolve_snapshot(self.options)
        m = tl._read_manifest(self.options["path"], snaps[-1] if snap is None else snap)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        # all-nullable: schema evolution means files written before a
        # column existed null-fill it, regardless of how the committing
        # DataFrame declared nullability
        fields = [T.StructField(f.name, f.dataType, True, f.metadata)
                  for f in schema.fields]
        if self._cdf():
            clash = set(tl._CDF_COLS) & {f.name for f in fields}
            if clash:
                raise ValueError(
                    f"table columns {sorted(clash)} collide with the "
                    "change-feed metadata namespace"
                )
            fields += [
                T.StructField("_change_type", T.StringType(), True),
                T.StructField("_commit_snapshot", T.LongType(), True),
            ]
        return T.StructType(fields)

    def reader(self, schema):
        if self._cdf():
            return _TableLogBatchCdfReader(schema, self.options)
        if self.options.get("pushdown", "false").lower() == "true":
            return _TableLogBatchReaderPushdown(schema, self.options)
        return _TableLogBatchReader(schema, self.options)

    def streamReader(self, schema):
        if self._cdf():
            return _TableLogStreamCdfReader(schema, self.options)
        return _TableLogStreamReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "mode('overwrite') is unsupported; use table_log.overwrite "
                "(it owns the evolution-metadata reset contract)"
            )
        return _TableLogBatchWriter(schema, self.options)

    def streamWriter(self, schema, overwrite: bool):
        return _TableLogStreamWriter(schema, self.options)


def register(spark) -> None:
    """Idempotent registration of the ``table_log`` format."""
    spark.dataSource.register(TableLogDataSource)
