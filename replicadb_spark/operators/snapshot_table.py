"""Snapshot table: atomic multi-file commits, time travel, and GC on
top of the file-skipping manifest (operators/manifest) — the lakehouse
mechanics a 100 TB table needs and the flat parquet sinks can't give:

- ``snapshot_commit``: write the batch's files into an immutable
  per-snapshot directory, build their footer-stats manifest on the
  driver, union it with the parent manifest (append) or replace it
  (overwrite) as one Arrow table, and
  PUBLISH with one atomic rename of the commit record — the commit
  point. A crash before the record leaves orphan files that no reader
  ever sees (GC'd by expire); a crash after is a completed commit.
  Readers never observe a half-commit.
- ``snapshot_read``: resolve a snapshot (current or time-travel by id),
  read its manifest, optionally ``prune_files`` on a column range
  (data skipping — only intersecting files are scanned), and scan the
  surviving file list. Old snapshots stay readable after new commits:
  data files are immutable and never rewritten.
- ``snapshot_expire``: delete the data files referenced ONLY by
  expired snapshots (plus never-committed orphans), keeping the last
  K snapshots fully readable — bounded-history GC. The candidate set
  is listed per-directory INSIDE executor tasks and diffed against the
  kept manifests with one distributed anti-join; deletes run in the
  same tasks — nothing O(table-files) ever sits on the driver.
- **Schema evolution**: every commit record pins the table schema;
  ``snapshot_commit(evolve=True)`` accepts additive columns and
  same-family numeric widening without rewriting a single data file —
  reads request the pinned schema and the parquet reader null-fills /
  up-casts older files. Time travel keeps each snapshot's own schema.

ALL metadata I/O (commit log, listings, renames, deletes) goes through
replicadb_spark.fs — the session's Hadoop ``FileSystem`` on the driver
and pyarrow filesystems inside Arrow tasks — so the table root may be
any Spark-readable URI (``file://``, ``hdfs://``, ``s3a://``), not just
the driver's local disk. The commit point is ``TableFS.put_if_absent``:
ATOMIC tmp+rename on HDFS; on local FS Hadoop's rename refuses an
existing destination plus a best-effort pre-check (but POSIX rename(2)
can overwrite, so detection there is best-effort); on S3 (non-atomic
rename) the commit is a conditional PUT (If-None-Match) behind
``fs.s3a.create.conditional.enabled`` — and with the flag OFF, publish
REFUSES rather than silently racing, so a lakehouse on S3 either has a
real atomic decision point or no multi-writer commits at all.

**Optimistic concurrency** (where put-if-absent detection exists):
every commit ATTEMPT writes its data files and manifest under its own
uuid token (two writers never share a write location), and the
commit-record rename decides the winner. A losing appender re-derives
its manifest union against the new tip and retries; a losing COW op
(delete/compact/zorder/upsert) retries only after validating its read
set (victim files still visible, schema pin uncontested) and otherwise
refuses loudly — Delta-style conflict semantics for the concurrent
ingest+compaction reality. ``snapshot_expire`` defaults to a
maintenance-window op (an in-flight commit's not-yet-published files
look like orphans); its ``orphan_grace_ms`` spares unreferenced files
younger than the grace — the Delta-VACUUM-retention analog that makes
GC safe to run beside live writers. Bucketed snapshot commits
(operators/snapshot_bucketed) keep the documented single-writer
contract. Concurrent readers are isolated by construction. Commit
cost is O(batch) Spark work plus driver-side manifest work: footers of
the commit's own new files, then the parent manifest read, filtered,
unioned and written as one pyarrow table (operators/manifest) — no
Spark job touches a manifest on a commit path, and nothing is
O(table bytes). The table tip is resolved once per commit: one listing
of ``snapshots/`` and one read of the tip's record."""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from replicadb_spark.fs import TableFS, join, pyarrow_fs_for
from replicadb_spark.modes import latest_per_key
from replicadb_spark.operators.manifest import (
    MANIFEST_DDL,
    drop_files,
    list_parquet,
    manifest_columns,
    manifest_files,
    prune_files,
    prune_files_not_null,
    read_footers,
    read_manifest,
    stat_intervals,
    write_manifest,
)


def _table_fs(path: str, spark: "SparkSession | None" = None) -> TableFS:
    """FS handle for a table root. Metadata-only entry points that take
    no SparkSession (current_snapshot, snapshot_record, …) borrow the
    thread's active session — they are driver-side calls inside a live
    pipeline by contract."""
    spark = (
        spark
        or SparkSession.getActiveSession()
        or SparkSession.builder.getOrCreate()
    )
    return TableFS(spark, path)


def _snap_ids(fs: TableFS) -> list[int]:
    out = []
    for f in fs.list_names(join(fs.root, "snapshots")):
        if f.startswith("s-") and f.endswith(".json"):
            out.append(int(f[2:-5]))
    return sorted(out)


def _manifest_path(path: str, sid: int) -> str:
    return join(path, "manifests", f"m-{sid:06d}")


def _read_record(fs: TableFS, path: str, sid: int) -> dict:
    return json.loads(
        fs.read_text(join(path, "snapshots", f"s-{sid:06d}.json"))
    )


def _tip(fs: TableFS, path: str) -> "tuple[int | None, dict | None]":
    """``(tip id, parsed tip record)`` — ``(None, None)`` on an empty
    table. A commit resolves its parent through this ONCE (one listing
    of ``snapshots/``, one record read) and hands the parsed record to
    the schema pin, the bucketed refusal and the manifest location."""
    ids = _snap_ids(fs)
    if not ids:
        return None, None
    return ids[-1], _read_record(fs, path, ids[-1])


def _require_tip(fs: TableFS, path: str) -> "tuple[int, dict]":
    """:func:`_tip` of a table that must have one."""
    parent = _resolve(fs, None)
    return parent, _read_record(fs, path, parent)


def _record_schema(rec: dict):
    """The table schema a commit record pins (a StructType), or None
    for commits made before schema tracking."""
    from pyspark.sql.types import StructType

    s = rec.get("schema")
    return StructType.fromJson(json.loads(s)) if s else None


def _record_manifest(path: str, rec: dict) -> str:
    """The manifest a commit record points at. OCC writers name
    manifests with their attempt token (the record is the authoritative
    pointer); records from before that carry no ``manifest`` key and
    fall back to the legacy id-derived path."""
    return rec.get("manifest") or _manifest_path(path, rec["snapshot_id"])


def _delete_file_quiet(f: str) -> None:
    """Delete one data file inside an executor task, treating
    already-missing as success: GC deletes are driven by a
    side-effecting mapInPandas, so a retried or speculative task must
    be able to re-delete a file its first attempt already removed
    without failing the job."""
    pfs, local = pyarrow_fs_for(f)
    try:
        pfs.delete_file(local)
    except FileNotFoundError:
        pass


# Same-family widening chains the parquet reader accepts with an
# explicit requested schema (verified on the bundled Spark: an int32
# file column reads as long, a float as double; CROSS-family promotion
# is not attempted). Tens digit = family, so rank//10 must match.
_WIDENING_RANK = {
    "byte": 0, "short": 1, "integer": 2, "long": 3,
    "float": 10, "double": 11,
}


def _nullable_type(dt):
    """``dt`` with EVERY nullability flag forced true, recursively:
    struct fields, array ``containsNull``, map ``valueContainsNull``.
    Two structurally identical nested columns must compare equal in
    :func:`_merge_schemas` even when only an inner flag differs —
    evolution fills old rows with null, so a stored table schema can
    never promise non-null at any depth."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable_type(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable_type(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullable_type(dt.keyType), _nullable_type(dt.valueType), True
        )
    return dt


def _nullable(schema):
    """Every field nullable at every nesting depth (see _nullable_type)."""
    return _nullable_type(schema)


def _merge_schemas(table, batch):
    """Additive-evolution merge: table fields keep their position
    (possibly widened to the batch's same-family wider type), batch-only
    fields append. Returns ``(merged, changes)`` where ``changes`` lists
    the human-readable evolutions; raises on a same-name type conflict
    the parquet reader could not reconcile (cross-family, string vs
    numeric, nested restructure)."""
    from pyspark.sql.types import StructField, StructType

    out, changes = [], []
    # normalize nested nullability on BOTH sides before any comparison:
    # a stored legacy schema (or a batch straight off a source) may pin
    # non-null flags deep inside struct/array/map types, and a flag-only
    # difference must read as "same type", not spurious drift
    table, batch = _nullable(table), _nullable(batch)
    bmap = {f.name: f for f in batch.fields}
    for f in table.fields:
        b = bmap.pop(f.name, None)
        if b is None or b.dataType == f.dataType:
            out.append(StructField(f.name, f.dataType, True))
            continue
        tr = _WIDENING_RANK.get(f.dataType.typeName())
        br = _WIDENING_RANK.get(b.dataType.typeName())
        if tr is not None and br is not None and tr // 10 == br // 10:
            wide = f.dataType if tr >= br else b.dataType
            if wide != f.dataType:
                changes.append(
                    f"widen {f.name}: {f.dataType.simpleString()}"
                    f" -> {wide.simpleString()}"
                )
            out.append(StructField(f.name, wide, True))
        else:
            raise ValueError(
                f"schema evolution cannot reconcile column {f.name!r}: "
                f"table has {f.dataType.simpleString()}, batch has "
                f"{b.dataType.simpleString()} — only additive columns "
                "and same-family numeric widening are supported"
            )
    for name, b in bmap.items():
        out.append(StructField(name, b.dataType, True))
        changes.append(f"add {name} {b.dataType.simpleString()}")
    return StructType(out), changes


def snapshot_schema(path: str, snapshot_id: "int | None" = None):
    """The table schema PINNED by a snapshot's commit record (a
    StructType), or None for commits made before schema tracking — the
    read path then falls back to parquet inference, exactly the old
    behavior."""
    return _record_schema(snapshot_record(path, snapshot_id))


# Publish-retry cap for optimistic concurrency: each retry means a
# whole other writer landed a commit in our window, so >5 consecutive
# losses is contention worth surfacing, not retrying forever.
_OCC_RETRIES = 5


class ConcurrentCommitError(RuntimeError):
    """A commit refused because a concurrent writer changed the state
    it was derived from. Raised by every contention refusal in this
    module (r17 — ADVICE r16 unified the taxonomy; previously the
    ``_cow_publish`` refusals raised plain IOError):

    - an ``expect_parent`` CAS precondition found the tip moved;
    - a COW retry found its victims rewritten/removed underneath it
      (stale rewrite);
    - a COW retry would republish a schema pin a concurrent evolution
      superseded;
    - a merge-on-key retry found concurrently-added files sharing its
      staging PKs (Delta's ConcurrentAppendException shape);
    - a non-retrying single-shot publish (bucketed commits) lost.

    The caller decides: recompute from the new tip and retry, or (for
    pure housekeeping like delta-log compaction, where the un-compacted
    table is still exact) skip.

    Derives from RuntimeError, NOT IOError (ADVICE r15): a CAS refusal
    is contention, not filesystem failure — a caller catching IOError
    for transient FS problems must never swallow a refusal that needs
    a refold. (Breaking for callers that caught IOError/OSError around
    commits before r17 — catch ConcurrentCommitError.)"""


class CommitRetryExhausted(RuntimeError):
    """A read-fold-commit loop lost its CAS race ``_OCC_RETRIES``+
    consecutive times — every retry means a whole other writer landed
    in the window, so this is sustained contention worth surfacing to
    the operator (back off, shard the fold, or serialize writers),
    distinct from both a single refusal (retryable) and I/O failure."""


def _commit_token() -> str:
    """Uniquifier for one commit ATTEMPT's write locations (data dir,
    manifest dir). Two concurrent writers derive the same next snapshot
    id, so id-derived paths alone would make them clobber each other's
    files BEFORE either reaches the commit point — every attempt writes
    under its own suffix (the Delta/Iceberg uuid-file shape) and only
    the commit-record rename decides who wins."""
    import uuid

    return uuid.uuid4().hex[:8]


def _try_publish(fs: TableFS, path: str, rec: dict) -> bool:
    """Atomically claim the commit record's final name — THE commit
    point, delegated to :meth:`TableFS.put_if_absent` which picks the
    scheme-correct primitive (tmp+rename on rename-atomic schemes,
    conditional PUT on S3, loud refusal where neither exists). True if
    this writer won the snapshot id; False if a concurrent writer took
    it first (the caller may re-derive against the new tip and
    retry)."""
    import time

    fs.mkdirs(join(path, "snapshots"))
    sid = rec["snapshot_id"]
    final = join(path, "snapshots", f"s-{sid:06d}.json")
    # wall-clock commit stamp — the TIMESTAMP AS OF resolution anchor.
    # Written at the publish choke point so every commit path gets one;
    # monotonicity across writers is the host clock's (same caveat as
    # Delta: time travel by timestamp trusts the committers' clocks).
    rec = {**rec, "committed_at_ms": int(time.time() * 1000)}
    return fs.put_if_absent(final, json.dumps(rec))


def _publish(fs: TableFS, path: str, rec: dict) -> None:
    """Single-shot publish for paths without an OCC retry (bucketed
    commits keep the documented single-writer contract): loses loudly."""
    if not _try_publish(fs, path, rec):
        raise ConcurrentCommitError(
            f"commit of snapshot {rec['snapshot_id']} lost to a "
            "concurrent writer and this operation does not retry — "
            "re-run against the new table tip"
        )


def current_snapshot(path: str) -> "int | None":
    ids = _snap_ids(_table_fs(path))
    return ids[-1] if ids else None


def snapshot_commit(
    df: DataFrame,
    path: str,
    *,
    stat_columns: "list[str] | None" = None,
    mode: str = "append",
    meta: "dict | None" = None,
    evolve: bool = False,
    expect_parent: "int | None" = None,
) -> int:
    """Commit ``df`` as the next snapshot; returns the snapshot id.
    ``mode='append'`` adds to the parent's visible set,
    ``'overwrite'`` logically replaces it (parent files stay on disk
    for time travel until expired).

    ``expect_parent`` is a compare-and-swap precondition: the commit
    publishes ONLY if the table tip still equals that snapshot id, and
    raises :class:`ConcurrentCommitError` otherwise (checked before
    the data write AND again on every lost publish race). Without it,
    an ``overwrite`` that loses a race to a concurrent append retries
    with its own (now stale) content and silently erases the appended
    batch — last-writer-wins is correct for a true "replace the table"
    but a LOST UPDATE for any overwrite whose content was DERIVED from
    a specific snapshot (delta-log compaction summing snapshots 1..k
    must not clobber a racing append of batch k+1). Derived
    overwrites must pass the snapshot id they read;
    ``expect_parent=0`` means "I derived from an EMPTY table" (ids
    start at 1), so even a first commit can be CAS-guarded against a
    racing first committer. ``meta`` keys are stored in the
    commit record — stream_snapshot_ingest uses this to persist the
    micro-batch id that makes replays exactly-once.

    Every commit record pins the table schema at that snapshot. An
    appended batch whose schema DRIFTS from the table's is refused
    unless ``evolve=True``, which accepts additive columns and
    same-family numeric widening (int→long, float→double): the table
    schema becomes the merge, old data files are never rewritten —
    reads request the merged schema and the parquet reader fills
    missing columns with null and up-casts narrow ones (the
    Delta/Iceberg add-column shape: O(1) metadata, zero data movement).
    A batch MISSING table columns needs no flag: the merge is a no-op
    and its rows read back null there. Time travel keeps each
    snapshot's own pinned schema. ``mode='overwrite'`` replaces the
    schema outright with the batch's."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode {mode!r}: use 'append' or 'overwrite'")
    spark = df.sparkSession
    fs = TableFS(spark, path)
    parent, prec = _tip(fs, path)
    want = None if expect_parent == 0 else expect_parent
    if expect_parent is not None and parent != want:
        raise ConcurrentCommitError(
            f"snapshot_commit: expected to publish on snapshot "
            f"{expect_parent} but the tip is {parent} — the derived "
            "content is stale; recompute from the new tip or skip"
        )
    if prec is not None:
        _refuse_bucketed(prec, path, "snapshot_commit")
    table_schema = _nullable(df.schema)
    if prec is not None and mode == "append":
        prev_schema = _record_schema(prec)
        if prev_schema is not None:
            merged, changes = _merge_schemas(prev_schema, table_schema)
            if changes and not evolve:
                raise ValueError(
                    f"batch schema drifts from the table schema "
                    f"({'; '.join(changes)}) — pass evolve=True to "
                    "accept additive/widening evolution"
                )
            table_schema = merged
    token = _commit_token()
    snap_id = (parent or 0) + 1
    data_dir = join(path, "data", f"snap-{snap_id:06d}-{token}")
    df.write.mode("overwrite").parquet(data_dir)
    # an empty batch lists no files: a legal no-op/overwrite-to-empty
    # commit with an empty manifest
    new_m = read_footers(list_parquet(data_dir), stat_columns)
    # OCC publish loop: appends always COMPOSE with a concurrent commit
    # (this batch's files are under their own token — re-derive the
    # manifest union against the new tip and retry), modulo the same
    # schema-drift rule re-checked against the new parent's pin.
    for _ in range(_OCC_RETRIES + 1):
        mpath = join(path, "manifests", f"m-{snap_id:06d}-{token}")
        if mode == "append" and prec is not None:
            full = pa.concat_tables([_manifest_table(path, prec), new_m])
        else:
            full = new_m
        write_manifest(full, mpath)
        if _try_publish(fs, path, {
            "snapshot_id": snap_id,
            "parent_id": parent,
            "operation": mode,
            "new_data_dir": data_dir,
            "manifest": mpath,
            "schema": table_schema.json(),
            **(meta or {}),
        }):
            return snap_id
        fs.delete(mpath, recursive=True)  # orphaned loser manifest
        parent, prec = _require_tip(fs, path)
        if expect_parent is not None:
            # the lost race IS the tip moving past the precondition —
            # never republish derived content over the winner's commit.
            # This attempt's (unpublished) data files are reclaimed now
            # rather than waiting for expire's orphan GC.
            fs.delete(data_dir, recursive=True)
            raise ConcurrentCommitError(
                f"snapshot_commit: a concurrent commit advanced the "
                f"tip past expected snapshot {expect_parent} (now "
                f"{parent}) — the derived content is stale; recompute "
                "from the new tip or skip"
            )
        snap_id = parent + 1
        if mode == "append":
            prev_schema = _record_schema(prec)
            if prev_schema is not None:
                merged, changes = _merge_schemas(
                    prev_schema, _nullable(df.schema)
                )
                if changes and not evolve:
                    raise ValueError(
                        f"batch schema drifts from the (concurrently "
                        f"committed) table schema ({'; '.join(changes)})"
                        " — pass evolve=True to accept additive/widening"
                        " evolution"
                    )
                table_schema = merged
    raise CommitRetryExhausted(
        f"snapshot_commit: lost the publish race {_OCC_RETRIES + 1} "
        "times in a row"
    )


def _refuse_bucketed(rec: dict, path: str, op: str) -> None:
    """Ops that would emit files without bucket ids (or fragment a
    bucket across dirs) refuse bucketed snapshot tables — their layout
    invariant is whole-bucket rewrites (operators/snapshot_bucketed).
    ``rec`` is the parsed tip record."""
    if rec.get("n_buckets"):
        raise ValueError(
            f"{op}: {path} is a BUCKETED snapshot table — use the "
            "operators/snapshot_bucketed commit/upsert path (whole-bucket "
            "rewrites keep every snapshot registrable as a bucketed table)"
        )


def _resolve(fs: TableFS, snapshot_id: "int | None") -> int:
    ids = _snap_ids(fs)
    if not ids:
        raise ValueError(f"no snapshots under {fs.root}")
    if snapshot_id is None:
        return ids[-1]
    if snapshot_id not in ids:
        raise ValueError(
            f"snapshot {snapshot_id} not found (have {ids}) — expired?"
        )
    return snapshot_id


def _manifest_table(path: str, rec: dict) -> pa.Table:
    """The manifest of a parsed commit record as a driver-side Arrow
    table — what every commit path reads, filters and unions."""
    return read_manifest(_record_manifest(path, rec))


def snapshot_manifest(
    spark: SparkSession, path: str, snapshot_id: "int | None" = None
) -> DataFrame:
    """A snapshot's manifest as a lazy DataFrame — the public view that
    metadata aggregates run on. Commit paths read the same bytes as an
    Arrow table on the driver instead."""
    fs = TableFS(spark, path)
    sid = _resolve(fs, snapshot_id)
    return spark.read.schema(MANIFEST_DDL).parquet(
        _record_manifest(path, _read_record(fs, path, sid))
    )


def _cow_publish(
    spark: SparkSession,
    fs: TableFS,
    path: str,
    parent: int,
    parent_m: pa.Table,
    victims: "list[str]",
    new_m: pa.Table,
    rec: dict,
    *,
    op: str,
    token: str,
    pk_guard: "dict | None" = None,
) -> int:
    """Publish a copy-on-write commit (delete / compact / zorder /
    upsert) with optimistic-concurrency retry — the Delta-style OCC
    loop for the concurrent ingest+maintenance reality:

    - manifest = parent's manifest (``parent_m``, the Arrow table the
      caller already read) minus ``victims`` plus ``new_m``, written on
      the driver under this attempt's token so no concurrent writer
      shares the location; the commit record points at it.
    - on a lost publish race, re-read the new tip and VALIDATE the read
      set: every victim file must still be visible there (a concurrent
      commit that rewrote/removed any of them invalidates this op's
      rewrite — refuse loudly, the caller re-runs on fresh state) and
      the pinned schema must be unchanged (a concurrent evolution would
      otherwise be silently un-pinned). A concurrent pure APPEND passes
      both checks and serializes as happening after this op — its new
      files flow into the retried manifest untouched.
    - ``pk_guard`` (merge-on-key committers, i.e. snapshot_merge and
      its default clause set snapshot_upsert):
      ``{"pk_columns", "keys_df", "schema", "orig_files"}``. A
      concurrent commit that ADDED files since this op's original
      parent passes the two checks above, but if those files carry any
      of this op's staging PKs, the retried publish would keep them
      alongside this op's own rows — duplicate PKs, violating the
      merge-on-key invariant (Delta raises ConcurrentAppendException
      for exactly this). The guard semi-joins the added files' PK
      columns against the broadcast staging keys and refuses loudly on
      overlap. Disjoint concurrent appends still compose.
    - retry with the new parent; cap at ``_OCC_RETRIES`` consecutive
      losses."""
    victims_set = set(victims)
    m = parent_m
    for _ in range(_OCC_RETRIES + 1):
        snap_id = parent + 1
        mpath = join(path, "manifests", f"m-{snap_id:06d}-{token}")
        write_manifest(
            pa.concat_tables([drop_files(m, victims_set), new_m]), mpath
        )
        if _try_publish(fs, path, {
            **rec,
            "snapshot_id": snap_id,
            "parent_id": parent,
            "manifest": mpath,
        }):
            return snap_id
        fs.delete(mpath, recursive=True)  # orphaned loser manifest
        new_parent, tip_rec = _require_tip(fs, path)
        m = _manifest_table(path, tip_rec)
        visible = set(manifest_files(m))
        gone = sorted(victims_set - visible)
        if gone:
            raise ConcurrentCommitError(
                f"{op}: a concurrent commit rewrote or removed "
                f"{len(gone)} file(s) this operation also rewrote "
                f"(e.g. {gone[:2]}) — refusing to publish a stale "
                "rewrite; re-run against the new snapshot"
            )
        if rec.get("schema") is not None:
            from pyspark.sql.types import StructType

            ours = StructType.fromJson(json.loads(rec["schema"]))
            theirs = _record_schema(tip_rec)
            if theirs is not None:
                # safe iff OUR pin already covers the tip's (equal, or
                # we are the evolver and ours is a superset/widening of
                # theirs). If the tip pins columns/widths ours lacks,
                # republishing ours would silently un-pin a concurrent
                # evolution — refuse loudly instead.
                try:
                    covered, _ = _merge_schemas(theirs, ours)
                except ValueError:
                    covered = None
                if covered is None or _nullable(covered).json() != (
                    _nullable(ours).json()
                ):
                    raise ConcurrentCommitError(
                        f"{op}: a concurrent commit evolved the table "
                        "schema — refusing to republish the old pin; "
                        "re-run against the new snapshot"
                    )
        if pk_guard is not None:
            added = sorted(visible - pk_guard["orig_files"])
            if added:
                reader = (
                    spark.read.schema(pk_guard["schema"])
                    if pk_guard["schema"] is not None
                    else spark.read
                )
                overlap = (
                    reader.parquet(*added)
                    .select(*pk_guard["pk_columns"])
                    .join(
                        F.broadcast(pk_guard["keys_df"]),
                        pk_guard["pk_columns"],
                        "left_semi",
                    )
                    .limit(1)
                    .count()
                )
                if overlap:
                    raise ConcurrentCommitError(
                        f"{op}: a concurrent commit added rows sharing "
                        "primary keys with this batch (concurrent "
                        "append/upsert of the same keys) — retrying "
                        "would publish duplicate PK rows; re-run "
                        "against the new snapshot"
                    )
        parent = new_parent
    raise CommitRetryExhausted(
        f"{op}: lost the publish race {_OCC_RETRIES + 1} times in a row"
    )


def snapshot_read(
    spark: SparkSession,
    path: str,
    *,
    snapshot_id: "int | None" = None,
    prune: "tuple[str, float, float] | None" = None,
    prune_not_null: "str | None" = None,
    schema=None,
) -> DataFrame:
    """Scan a snapshot's visible files; ``prune=(column, lo, hi)``
    applies manifest data skipping first, and ``prune_not_null=col``
    additionally drops files whose manifest proves the column entirely
    null (the IS NOT NULL scan of a sparse column). The scan requests
    the snapshot's PINNED schema (commit record), so files written
    before an additive evolution read back with null in the added
    columns and widened numerics up-cast — pass ``schema`` to override,
    or for empty legacy snapshots with no pinned schema."""
    fs = TableFS(spark, path)
    rec = _read_record(fs, path, _resolve(fs, snapshot_id))
    m = _manifest_table(path, rec)
    if prune is not None:
        files = prune_files(m, *prune)
    else:
        files = manifest_files(m)
    if prune_not_null is not None:
        nn = set(prune_files_not_null(m, prune_not_null))
        files = [f for f in files if f in nn]
    if schema is None:
        schema = _record_schema(rec)  # None on legacy commits
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if not files:
        if schema is None:
            raise ValueError("empty snapshot needs an explicit schema")
        return spark.createDataFrame([], schema)
    return reader.parquet(*files)


def snapshot_metadata_agg(
    spark: SparkSession,
    path: str,
    column: str,
    *,
    snapshot_id: "int | None" = None,
) -> DataFrame:
    """Metadata-only aggregation (Iceberg's metadata scan shape):
    ``count(*)``, ``min(column)``, ``max(column)`` for a snapshot
    answered ENTIRELY from its manifest — zero data files opened. At
    100 TB this turns a full-table aggregate into an O(files) read of
    one small parquet manifest.

    Sound because data files are immutable and every commit path
    (append/overwrite/delete/compact/upsert/zorder) rebuilds manifests
    from rewritten files' footers: per-file parquet stats are EXACT
    min/max for numeric columns, n_rows and null counts exact always.
    The column must have manifest stats (was in ``stat_columns``) and
    parse as numeric — otherwise min/max come back null (count stays
    exact) so a caller can fall back to a data scan, never get a wrong
    answer. A file whose column is entirely null (n_nulls == n_rows)
    legitimately contributes no min/max; ``null_count`` is the exact
    null total when every file records one, else null."""
    m = snapshot_manifest(spark, path, snapshot_id)
    per_file = m.groupBy("file").agg(F.first("n_rows").alias("n_rows"))
    stats = m.where(F.col("column") == column).select(
        F.col("min_s").try_cast("double").alias("mn"),
        F.col("max_s").try_cast("double").alias("mx"),
        "n_rows",
        "n_nulls",
        F.lit(1).alias("has"),
    )
    n_files = per_file.count()
    all_null = F.col("n_nulls").isNotNull() & (
        F.col("n_nulls") == F.col("n_rows")
    )
    agg = stats.agg(
        F.min("mn").alias("min_v"),
        F.max("mx").alias("mx_v"),
        F.sum(
            F.when(
                (F.col("mn").isNull() | F.col("mx").isNull()) & ~all_null,
                1,
            ).otherwise(0)
        ).alias("bad"),
        F.count("has").alias("covered"),
        F.sum(F.when(F.col("n_nulls").isNull(), 1).otherwise(0))
        .alias("nul_unknown"),
        F.sum("n_nulls").alias("nul_sum"),
    )
    total = per_file.agg(F.sum("n_rows").alias("n")).crossJoin(agg)
    # a file without a stats row for the column, or with unparseable
    # stats that is not provably all-null, makes min/max unknowable
    complete = (F.col("bad") == 0) & (F.col("covered") == F.lit(n_files))
    return total.select(
        F.coalesce(F.col("n"), F.lit(0)).alias("count_rows"),
        F.when(complete, F.col("min_v")).alias("min_value"),
        F.when(complete, F.col("mx_v")).alias("max_value"),
        F.when(
            (F.col("nul_unknown") == 0)
            & (F.col("covered") == F.lit(n_files)),
            F.coalesce(F.col("nul_sum"), F.lit(0)),
        ).alias("null_count"),
    )


def snapshot_history(spark: SparkSession, path: str) -> DataFrame:
    fs = TableFS(spark, path)
    rows = [
        json.loads(fs.read_text(join(path, "snapshots", f"s-{sid:06d}.json")))
        for sid in _snap_ids(fs)
    ]
    return spark.createDataFrame(
        [
            (
                r["snapshot_id"],
                r["parent_id"],
                r["operation"],
                r.get("committed_at_ms"),
            )
            for r in rows
        ],
        "snapshot_id int, parent_id int, operation string, "
        "committed_at_ms long",
    )


def snapshot_as_of(path: str, ts_ms: int) -> int:
    """TIMESTAMP AS OF resolution: the newest retained snapshot whose
    ``committed_at_ms`` stamp is ≤ ``ts_ms`` (Delta/Iceberg time-travel
    by timestamp). Commits from before stamping (no ``committed_at_ms``
    in the record) are treated as older-than-everything — resolvable by
    any timestamp at or after the first stamped commit. Raises when the
    table has no snapshot old enough (all stamps exceed ``ts_ms``)."""
    fs = _table_fs(path)
    best = None
    for sid in _snap_ids(fs):
        stamp = snapshot_record(path, sid).get("committed_at_ms")
        if stamp is None or stamp <= ts_ms:
            best = sid
    if best is None:
        raise ValueError(
            f"no snapshot of {path} committed at or before {ts_ms} — "
            "the earliest retained commit is newer (or expired)"
        )
    return best


def snapshot_restore(
    spark: SparkSession, path: str, snapshot_id: int
) -> int:
    """Delta RESTORE: publish a NEW commit whose visible file set and
    pinned schema are exactly those of retained ``snapshot_id`` —
    O(metadata) only, zero data files moved or rewritten (they are
    immutable and still on disk; the restore just points the tip back
    at them). History is preserved: the pre-restore tip remains
    time-travelable until expired, ``snapshot_changes`` across the
    restore yields the net undo, and a post-restore ``expire`` GCs the
    rolled-back commits' files once they age out of ``keep_last``.

    Restores are maintenance ops: a concurrent commit landing in the
    publish window makes the restore REFUSE loudly (retrying would
    silently discard the concurrent write — restore-over-new-data must
    be a human decision). Returns the new snapshot id; a restore to the
    current tip is a no-op returning the tip."""
    fs = TableFS(spark, path)
    parent, prec = _require_tip(fs, path)
    _refuse_bucketed(prec, path, "snapshot_restore")
    target = _resolve(fs, snapshot_id)
    if target == parent:
        return parent
    trec = _read_record(fs, path, target)
    token = _commit_token()
    snap_id = parent + 1
    mpath = join(path, "manifests", f"m-{snap_id:06d}-{token}")
    write_manifest(_manifest_table(path, trec), mpath)
    tschema = _record_schema(trec)
    _publish(fs, path, {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "operation": "restore",
        "restored_from": target,
        "manifest": mpath,
        **({"schema": tschema.json()} if tschema is not None else {}),
    })
    return snap_id


def snapshot_expire(
    spark: SparkSession, path: str, *, keep_last: int = 1,
    dry_run: bool = False, orphan_grace_ms: int = 0,
) -> dict:
    """GC: drop all but the newest ``keep_last`` snapshots and delete
    every data file not referenced by a KEPT manifest — including
    orphans from crashed (never-published) commits. Kept snapshots stay
    byte-identical; reading an expired id raises by name.
    ``dry_run=True`` reports the same summary (ids that would expire,
    count of data files that would go) without touching a byte — the
    VACUUM DRY RUN an operator runs before pointing GC at a 100 TB
    table.

    ``orphan_grace_ms`` is the Delta-VACUUM-retention analog for the
    OCC world: an UNREFERENCED file younger than the grace (by
    filesystem mtime) is spared, because it may belong to an in-flight
    commit that has written data but not yet published its record —
    without a grace, expire racing a live writer GCs the writer's
    files and its publish lands pointing at deleted data. Deployments
    running expire concurrently with writers should set this ≥ the
    longest plausible commit duration (Delta defaults to 7 days for
    the same reason); 0 keeps the maintenance-window behavior where
    every orphan goes immediately.

    100 TB shape: per-snapshot-directory listing AND the deletes run
    inside executor tasks (pyarrow filesystems); the doomed set is the
    distributed anti-join of that listing against the kept manifests —
    the driver holds only O(snapshots) directory names and the summary
    counts, never the table's file list."""
    fs = TableFS(spark, path)
    ids = _snap_ids(fs)
    keep = set(ids[-keep_last:]) if keep_last > 0 else set()
    kept_m = {
        sid: _record_manifest(path, _read_record(fs, path, sid))
        for sid in keep
    }
    if keep:
        # Manifest rows carry whatever root SPELLING their committer
        # used (/tmp/t vs file:///tmp/t vs file:/tmp/t); the on-disk
        # listing below is re-anchored onto THIS call's spelling. Left
        # unreconciled, a spelling mismatch makes every live file miss
        # the anti-join and be deleted — so re-anchor every stored path
        # onto this call's root, after proving (via Hadoop's qualified
        # form) that each stored prefix names this very table root.
        # The marker match is GREEDY-anchored to the path tail (the
        # LAST "/data/snap-NNNNNN[-token]/" occurrence): a table root
        # that itself contains "/data/snap-" must split at the data
        # dir this table wrote, not at the root's own substring.
        marker_re = r"/data/snap-\d{6,}(-[0-9a-f]{8})?/"
        stored = (
            spark.read.schema(MANIFEST_DDL)
            .parquet(*kept_m.values())
            .select("file")
            .distinct()
        )
        # O(distinct root spellings) ≤ O(snapshots) — bounded driver set
        prefixes = [
            r[0]
            for r in stored.select(
                F.regexp_extract(
                    "file", f"^(.*){marker_re}", 1
                ).alias("p")
            ).distinct().collect()
        ]
        for p in prefixes:
            if not p or fs.qualify(p) != fs.qualified_root:
                raise ValueError(
                    f"snapshot_expire: kept manifest references files "
                    f"under {p!r}, which does not resolve to this "
                    f"table root {fs.qualified_root!r} — refusing to GC"
                )
        referenced = stored.select(
            F.concat(
                F.lit(fs.root),
                F.regexp_extract("file", f"^.*({marker_re}.*)$", 1),
            ).alias("file")
        ).distinct()
    else:
        referenced = spark.createDataFrame([], "file string")

    import time as _time

    now_ms = int(_time.time() * 1000)
    grace = int(orphan_grace_ms)

    data_root = join(path, "data")
    snap_dirs = [
        join(data_root, d)
        for d in fs.list_names(data_root)
        if d.startswith("snap-")
    ]
    removed_files = 0
    if snap_dirs:
        dirs_df = spark.createDataFrame([(d,) for d in snap_dirs], "dir string")

        def list_snap_dirs(batches):
            import pandas as pd

            for pdf in batches:
                files: list[str] = []
                for d in pdf["dir"].values:
                    pfs, local = pyarrow_fs_for(d)
                    import pyarrow.fs as pafs

                    sel = pafs.FileSelector(local, recursive=True)
                    for info in pfs.get_file_info(sel):
                        if not (
                            info.is_file and info.path.endswith(".parquet")
                        ):
                            continue
                        if grace > 0 and info.mtime is not None:
                            age = now_ms - int(
                                info.mtime.timestamp() * 1000
                            )
                            if age < grace:
                                continue  # possibly an in-flight commit
                        # re-anchor onto the caller-prefix dir form
                        files.append(d + info.path[len(local):])
                yield pd.DataFrame({"file": files})

        on_disk = dirs_df.repartition(
            min(len(snap_dirs), spark.sparkContext.defaultParallelism)
        ).mapInPandas(list_snap_dirs, "file string")
        doomed = on_disk.join(referenced, "file", "left_anti")

        def delete_batch(batches):
            import pandas as pd

            for pdf in batches:
                done = []
                for f in pdf["file"].values:
                    _delete_file_quiet(f)
                    done.append(f)
                yield pd.DataFrame({"file": done})

        if dry_run:
            removed_files = doomed.count()
        else:
            removed_files = doomed.mapInPandas(
                delete_batch, "file string"
            ).count()

    if dry_run:
        return {
            "kept": sorted(keep),
            "expired": [i for i in ids if i not in keep],
            "data_files_removed": removed_files,
            "dry_run": True,
        }
    # expired commit records + manifests: O(expired) metadata deletes
    # (manifest location resolved from each record BEFORE the record
    # goes — OCC commits name manifests by attempt token, not id)
    for sid in ids:
        if sid not in keep:
            doomed_m = _record_manifest(path, _read_record(fs, path, sid))
            fs.delete(join(path, "snapshots", f"s-{sid:06d}.json"))
            fs.delete(doomed_m, recursive=True)
    # manifests referenced by NO live record — crashed OCC losers that
    # never retried — are unreachable by construction: sweep them.
    # O(commits) names on the driver, same bound as the snapshot list.
    # The orphan grace applies HERE too: an in-flight OCC commit writes
    # its m-NNNNNN-token manifest BEFORE _try_publish, so a manifest
    # younger than the grace may belong to a live writer whose publish
    # has not landed yet — deleting it would let that publish succeed
    # pointing at a deleted manifest (unreadable tip). Crashed-loser
    # manifests older than the grace still go.
    live_m = {m.rstrip("/").rsplit("/", 1)[-1] for m in kept_m.values()}
    for name in fs.list_names(join(path, "manifests")):
        if name.startswith("m-") and name not in live_m:
            mdir = join(path, "manifests", name)
            if grace > 0 and now_ms - fs.mtime_ms(mdir) < grace:
                continue  # possibly an in-flight commit's manifest
            fs.delete(mdir, recursive=True)
    # drop snap dirs left with no data files (write markers only) —
    # check two levels deep: bucketed snap dirs keep their parquet in
    # bkt=K/ subdirectories. Same grace: a live writer's dir may hold
    # markers now and parquet a moment later.
    for d in snap_dirs:
        if grace > 0 and now_ms - fs.mtime_ms(d) < grace:
            continue
        if not fs.glob(join(d, "*.parquet")) and not fs.glob(
            join(d, "*", "*.parquet")
        ):
            fs.delete(d, recursive=True)
    return {"kept": sorted(keep), "expired": [i for i in ids if i not in keep],
            "data_files_removed": removed_files}


def snapshot_record(path: str, snapshot_id: "int | None" = None) -> dict:
    """The commit record of a snapshot (current if id is None)."""
    fs = _table_fs(path)
    return _read_record(fs, path, _resolve(fs, snapshot_id))


def last_committed_meta(path: str, key: str) -> "int | None":
    """Newest integer ``key`` found walking the snapshot chain
    backwards — the generic replay-guard watermark persisted inside the
    table's own commit log (snapshots without the key, e.g. manual
    backfills interleaved with a stream, are skipped). Returns None on
    a table with no snapshots at all."""
    fs = _table_fs(path)
    if not fs.exists(join(path, "snapshots")):
        return None
    for sid in reversed(_snap_ids(fs)):
        b = _read_record(fs, path, sid).get(key)
        if b is not None:
            return int(b)
    return None


def last_committed_batch_id(path: str) -> "int | None":
    """Newest ``batch_id`` in the commit log — the replay-guard
    watermark for stream_snapshot_ingest."""
    return last_committed_meta(path, "batch_id")


def snapshot_delete(
    spark: SparkSession,
    path: str,
    condition,
    *,
    prune: "tuple[str, float, float] | None" = None,
) -> int:
    """Row-level DELETE as a copy-on-write commit: rewrite ONLY the
    files that might hold matching rows, keep every other file
    untouched, publish atomically. ``condition`` is a Column predicate
    selecting the rows to REMOVE; ``prune=(column, lo, hi)`` bounds the
    victim set via the manifest (files whose stats cannot intersect the
    predicate are never read OR rewritten — the 100 TB delete shape:
    cost scales with the affected files, not the table).

    The new snapshot's manifest = parent manifest minus the victim
    files plus the rewritten survivors' stats; the parent snapshot
    still reads the pre-delete data (time travel) until expired.
    Returns the new snapshot id."""
    fs = TableFS(spark, path)
    parent, prec = _require_tip(fs, path)
    _refuse_bucketed(prec, path, "snapshot_delete")
    tschema = _record_schema(prec)
    reader = spark.read.schema(tschema) if tschema is not None else spark.read
    m = _manifest_table(path, prec)
    victims = (
        prune_files(m, *prune) if prune is not None else manifest_files(m)
    )
    token = _commit_token()
    data_dir = join(path, "data", f"snap-{parent + 1:06d}-{token}")
    if victims:
        survivors = reader.parquet(*victims).where(~condition)
        survivors.write.mode("overwrite").parquet(data_dir)
    new_m = read_footers(list_parquet(data_dir), manifest_columns(m))
    return _cow_publish(spark, fs, path, parent, m, victims, new_m, {
        "operation": "delete",
        "new_data_dir": data_dir,
        "victim_files": len(victims),
        **({"schema": tschema.json()} if tschema is not None else {}),
    }, op="snapshot_delete", token=token)


def snapshot_compact(
    spark: SparkSession,
    path: str,
    *,
    small_mb: int = 16,
    target_files: "int | None" = None,
) -> int:
    """Small-file maintenance as a commit: coalesce every data file
    under ``small_mb`` into ``target_files`` new files (default: sized
    by total small-file bytes), leave large files alone, publish the
    swap atomically. Contents are identical by construction; the
    parent snapshot still reads the fragmented layout (time travel)
    until expired — the streaming-ingest companion
    (stream_snapshot_ingest commits one snapshot per micro-batch, so
    file counts grow with batch cadence exactly like the IVF cells).
    File sizes come from ONE Hadoop glob round trip over the data
    dirs (the same listing Spark's own file index performs); a file
    the glob misses is conservatively treated as large and left alone.
    Returns the new snapshot id."""
    import math

    fs = TableFS(spark, path)
    parent, prec = _require_tip(fs, path)
    _refuse_bucketed(prec, path, "snapshot_compact")
    tschema = _record_schema(prec)
    reader = spark.read.schema(tschema) if tschema is not None else spark.read
    m = _manifest_table(path, prec)
    files = manifest_files(m)
    sizes = dict(fs.glob(join(path, "data", "*", "*.parquet")))
    big = 1 << 62
    small = [
        f for f in files
        if sizes.get(f, big) < small_mb * 1024 * 1024
    ]
    if len(small) < 2:
        return parent  # nothing to do — no empty commit
    token = _commit_token()
    data_dir = join(path, "data", f"snap-{parent + 1:06d}-{token}")
    nbytes = sum(sizes[f] for f in small)
    n_out = target_files or max(1, math.ceil(nbytes / (128 * 1024 * 1024)))
    reader.parquet(*small).coalesce(n_out).write.mode(
        "overwrite"
    ).parquet(data_dir)
    new_m = read_footers(list_parquet(data_dir), manifest_columns(m))
    return _cow_publish(spark, fs, path, parent, m, small, new_m, {
        "operation": "compact",
        "new_data_dir": data_dir,
        "compacted_files": len(small),
        **({"schema": tschema.json()} if tschema is not None else {}),
    }, op="snapshot_compact", token=token)


def snapshot_zorder_compact(
    spark: SparkSession,
    path: str,
    col_x: str,
    col_y: str,
    *,
    target_files: "int | None" = None,
    bits: int = 16,
) -> int:
    """Layout-optimizing commit (Delta's ``OPTIMIZE ZORDER BY`` shape):
    rewrite the current snapshot's visible files clustered along the
    Morton curve of two columns, so each new file's manifest [min, max]
    box covers a compact square-ish region of (x, y) space instead of a
    full-width stripe — after which a box predicate on EITHER column
    prunes to O(box) files via ``snapshot_read(prune=...)``. Contents
    are identical by construction (the changelog between parent and
    this commit is empty); the parent still reads the old layout (time
    travel) until expired.

    100 TB shape: one ``repartitionByRange`` shuffle over the sampled
    z-values (ordering.zorder_layout — Catalyst bit ops, whole-stage
    codegen, no UDF), manifest rebuilt from footers only. The z-scale
    is an affine map of each column onto [0, 2^bits) from one tiny
    min/max aggregate — two scalars on the driver, nothing O(rows).
    Returns the new snapshot id (parent unchanged if the table is
    empty)."""
    from replicadb_spark.operators.ordering import zorder_value

    fs = TableFS(spark, path)
    parent, prec = _require_tip(fs, path)
    _refuse_bucketed(prec, path, "snapshot_zorder_compact")
    tschema = _record_schema(prec)
    m = _manifest_table(path, prec)
    files = manifest_files(m)
    if not files:
        return parent
    reader = spark.read.schema(tschema) if tschema is not None else spark.read
    df = reader.parquet(*files)

    lohi = df.agg(
        F.min(col_x).cast("double").alias("x0"),
        F.max(col_x).cast("double").alias("x1"),
        F.min(col_y).cast("double").alias("y0"),
        F.max(col_y).cast("double").alias("y1"),
    ).collect()[0]
    top = float((1 << bits) - 1)

    def scaled(c: str, lo, hi):
        if lo is None or hi is None or hi <= lo:
            return F.lit(0)
        return F.floor(
            (F.col(c).cast("double") - F.lit(float(lo)))
            / F.lit((float(hi) - float(lo)))
            * F.lit(top)
        ).cast("long")

    if target_files is None:
        sizes = dict(fs.glob(join(path, "data", "*", "*.parquet")))
        nbytes = sum(sizes.get(f, 0) for f in files)
        import math

        target_files = max(1, math.ceil(nbytes / (128 * 1024 * 1024)))
    z = zorder_value(
        scaled(col_x, lohi["x0"], lohi["x1"]),
        scaled(col_y, lohi["y0"], lohi["y1"]),
        bits=bits,
    )
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(target_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    token = _commit_token()
    data_dir = join(path, "data", f"snap-{parent + 1:06d}-{token}")
    clustered.write.mode("overwrite").parquet(data_dir)
    stat_cols = sorted(set(manifest_columns(m) or ()) | {col_x, col_y})
    new_m = read_footers(list_parquet(data_dir), stat_cols)
    return _cow_publish(spark, fs, path, parent, m, files, new_m, {
        "operation": "zorder",
        "new_data_dir": data_dir,
        "zorder_by": [col_x, col_y],
        "rewritten_files": len(files),
        **({"schema": tschema.json()} if tschema is not None else {}),
    }, op="snapshot_zorder_compact", token=token)


def snapshot_changed_files(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: "int | None" = None,
) -> "tuple[list[str], list[str]]":
    """(added, removed) data files between two snapshots' visible sets.
    Files present in both manifests are untouched by every commit in
    the range — immutability means they can contribute no change, so
    :func:`snapshot_changes` never reads them. ``from_snapshot=0`` is
    the empty table before the first commit (an initial commit's
    changelog is all inserts)."""
    fs = TableFS(spark, path)

    def visible(sid: "int | None") -> "set[str]":
        rec = _read_record(fs, path, _resolve(fs, sid))
        return set(manifest_files(_manifest_table(path, rec)))

    a = set() if from_snapshot == 0 else visible(from_snapshot)
    b = visible(to_snapshot)
    return sorted(b - a), sorted(a - b)


def snapshot_changes(
    spark: SparkSession,
    path: str,
    *,
    pk_columns: "list[str]",
    from_snapshot: int,
    to_snapshot: "int | None" = None,
    change_col: str = "_change_type",
) -> DataFrame:
    """Net row-level changelog between two retained snapshots — the CDC
    OUT surface of the snapshot table (the reference only replicates
    INTO sinks; operators/cdc.py applies changelogs — this EXTRACTS
    one from the table's own commit history).

    Data files are immutable, so only files added or removed between
    the two manifests can hold a change: candidate after-rows come from
    added files, candidate before-rows from removed files, and the
    (usually dominant) intersection of the manifests is never scanned —
    diff cost scales with the churned bytes, not the table. A
    compaction commit adds+removes files with identical content and
    therefore yields an EMPTY changelog, by construction.

    Classification by PK over the two candidate sets (each side
    pre-aggregated by PK, then one full outer join — the aggregation's
    partitioning is reused by the join, so the whole diff is one
    shuffle per side and ZERO extra jobs):

    - PK only in after-rows → ``insert`` (post-image)
    - PK only in before-rows → ``delete`` (pre-image)
    - PK in both, any non-key column differing → ``update`` (post-image)
    - PK in both, identical → dropped (file rewrite noise, not a change)

    Duplicate-PK tables are refused — net-diff semantics need a key.
    The guard is folded into the same aggregation (per-PK counts ride
    along with the collapsed payload) and fails LAZILY via
    ``raise_error`` when the changelog materializes, so the legal path
    pays no verification jobs at all.

    Multi-commit ranges collapse to the NET effect (insert-then-delete
    vanishes, like Delta/Iceberg CDF over a version range); walk
    consecutive ids for a per-commit feed
    (streaming.pipeline.stream_snapshot_changes does exactly that,
    continuously)."""
    if not pk_columns:
        raise ValueError("snapshot changelog extraction requires pk columns")
    added, removed = snapshot_changed_files(
        spark, path, from_snapshot, to_snapshot
    )
    sample = added or removed
    if not sample:
        # identical file sets — a legal no-op range (e.g. from == to):
        # empty changelog with the table's schema
        table = snapshot_read(spark, path, snapshot_id=to_snapshot)
        vals = [c for c in table.columns if c not in pk_columns]
        return spark.createDataFrame([], table.schema).select(
            *pk_columns, *vals, F.lit("noop").alias(change_col)
        )
    # Both candidate sets read through the TO snapshot's pinned schema:
    # across an additive-evolution boundary the before-files lack the
    # new column, which reads back null — so a value appearing in the
    # added column classifies as an update, exactly CDF semantics.
    to_sid = _resolve(TableFS(spark, path), to_snapshot)
    tschema = snapshot_schema(path, to_sid)

    def _rd(files: "list[str]") -> DataFrame:
        r = spark.read.schema(tschema) if tschema is not None else spark.read
        return r.parquet(*files)

    cols = (
        tschema.fieldNames() if tschema is not None
        else spark.read.parquet(*sample).columns
    )
    val_cols = [c for c in cols if c not in pk_columns]

    # pure-PK tables have no value payload: any rewrite of the same key
    # is a no-change, so the struct degrades to a constant
    payload = (
        F.struct(*[F.col(c) for c in val_cols]) if val_cols else F.lit(1)
    )

    def side(files: "list[str]", tag: str) -> DataFrame:
        src = (
            _rd(files)
            if files
            else spark.createDataFrame(
                [], tschema if tschema is not None else _rd(sample).schema
            )
        )
        # per-PK collapse + dup count in ONE aggregation; with n == 1
        # (the only legal case) first() IS the row's payload
        return src.groupBy(*pk_columns).agg(
            F.first(payload).alias(tag),
            F.count(F.lit(1)).alias(f"{tag}_n"),
        )

    after = side(added, "__after")
    before = side(removed, "__before")
    j = after.join(before, pk_columns, "full_outer")
    dup = (F.col("__after_n") > 1) | (F.col("__before_n") > 1)
    changed = j.withColumn(
        change_col,
        F.when(
            dup,
            F.raise_error(F.concat(
                F.lit("duplicate PK "),
                F.to_json(F.struct(*pk_columns)),
                F.lit(
                    f" — snapshot_changes needs unique {pk_columns} "
                    "per snapshot"
                ),
            )),
        )
        .when(F.col("__before").isNull(), F.lit("insert"))
        .when(F.col("__after").isNull(), F.lit("delete"))
        # null-safe: a value moving to/from NULL is still an update
        .when(~F.col("__after").eqNullSafe(F.col("__before")), F.lit("update")),
    ).where(F.col(change_col).isNotNull())
    img = F.when(
        F.col(change_col) == "delete", F.col("__before")
    ).otherwise(F.col("__after"))
    return changed.select(
        *pk_columns,
        *[img.getField(c).alias(c) for c in val_cols],
        change_col,
    )


def _staged(
    staging: DataFrame,
    pk_columns: "list[str]",
    order_column: "str | None",
) -> DataFrame:
    """A merge-on-key batch, collapsed to its newest row per PK by
    ``order_column`` and materialized ONCE with
    ``localCheckpoint(eager=True)``: the victim join, the rewrite and
    the PK guard then read it without recomputing the batch. The
    checkpoint runs the plan through AQE, so the collapse's shuffle
    lands at a data-sized width; a ``persist()`` would instead freeze
    the ``spark.sql.shuffle.partitions`` width and every later stage —
    the rewrite's file count included — would inherit it.

    The caller frees the blocks with :func:`_unstage` when its commit
    returns. Until then they live on the executors that computed them
    and DIE WITH THEM (the ``graph._lineage_reset`` trade-off): on a
    cluster, losing an executor mid-commit fails the commit instead of
    recomputing the batch. A failed commit has published nothing, so
    re-running the batch (a restarted stream replays it from its
    checkpoint) is safe."""
    return latest_per_key(staging, pk_columns, order_column).localCheckpoint(
        eager=True
    )


def _unstage(staged: DataFrame) -> None:
    """Free a :func:`_staged` frame's checkpoint blocks now, not when JVM
    GC lets the ContextCleaner (which would let a long streaming session
    pile up one batch's blocks per commit). Only after the commit
    returns: no lazy frame over the batch outlives it. Goes through
    ``SparkContext.unpersistRDD`` — ``RDD.unpersist`` makes the same
    call but first logs a truncated-lineage warning per commit."""
    rdd_id = staged._jdf.logicalPlan().rdd().id()
    staged.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


def _victims(
    m: pa.Table, staging: DataFrame, prune_column: "str | None"
) -> "list[str]":
    """Files a merge-on-key commit rewrites: every visible file of the
    Arrow manifest ``m`` when ``prune_column`` is None, else the files
    whose ``prune_column`` stats contain AT LEAST ONE staging key —
    per-key interval matching, NOT one global [min, max], which a batch
    mixing a low-key update with a high-key insert would stretch over
    the whole table. One broadcast interval join: the manifest's
    O(files) intervals broadcast into the staging keys. Files without
    parseable stats are always victims — unknown is never excludable."""
    if prune_column is None:
        return manifest_files(m)
    known, unknown = stat_intervals(m, prune_column)
    hit: "list[str]" = []
    if known:
        iv = staging.sparkSession.createDataFrame(
            known, "file string, mn double, mx double"
        )
        keys = staging.select(F.col(prune_column).cast("double").alias("__k"))
        k = F.col("__k")
        joined = keys.join(
            F.broadcast(iv), (k >= F.col("mn")) & (k <= F.col("mx"))
        )
        hit = [r["file"] for r in joined.select("file").distinct().collect()]
    return sorted(set(hit) | set(unknown))


def snapshot_upsert(
    spark: SparkSession,
    path: str,
    staging: DataFrame,
    *,
    pk_columns: "list[str]",
    prune_column: "str | None" = None,
    order_column: "str | None" = None,
    meta: "dict | None" = None,
    evolve: bool = False,
) -> int:
    """PK upsert (the reference's incremental MERGE, M3 —
    SqlManager.java:503-512) as ONE copy-on-write commit on the
    snapshot table — the third merge-capable sink after the live-JDBC
    MERGE and the bucketed-table surgery. It is :func:`snapshot_merge`'s
    default clause set ``("update", "insert", "keep")`` with full rows,
    whose plan is:

    1. victim files = those whose ``prune_column`` stats contain AT
       LEAST ONE staging key (per-key interval matching against the
       manifest — NOT one global [min, max], which a batch mixing a
       low-key update with a high-key insert would stretch over the
       whole table; files without parseable stats are kept
       conservatively). Pass the PK itself when the table is
       range-laid-out on it; None rewrites every file — still one
       commit, just unpruned;
    2. survivors = victim rows whose PK does NOT appear in staging
       (left_anti join against the batch — broadcast-sized by the
       batch, the corpus never shuffles);
    3. new files = survivors + the staging rows themselves, where a
       multi-update batch first collapses to its newest row per PK by
       ``order_column`` and is then PROJECTED to the table's columns
       (extra staging columns — e.g. the order column itself — are
       dropped; the upsert_bucketed_table contract);
    4. manifest = parent minus victims plus new files; one atomic
       commit-record publish, recorded as ``"operation": "upsert"``.

    Replay-idempotent by construction (same staging rows → same final
    table state), so stream_snapshot_replica needs no extra guard for
    correctness — it still uses the batch-id guard to avoid burning
    no-op snapshots. Returns the new snapshot id.

    ``evolve=True`` is MERGE WITH SCHEMA EVOLUTION (Delta's
    mergeSchema-on-MERGE shape): staging columns beyond the table's
    are ADDED to the pinned schema (same-family widening included)
    instead of dropped — untouched files gain the column as null on
    read, only the victim rewrite materializes it. The order column,
    if not itself a table column, stays a staging-side implementation
    detail and is never evolved in. Staging still must carry every
    PRE-EXISTING table column."""
    return snapshot_merge(
        spark, path, staging, pk_columns=pk_columns,
        when_matched="update", when_not_matched="insert",
        not_matched_by_source="keep",
        prune_column=prune_column, order_column=order_column, meta=meta,
        evolve=evolve,
    )


def _merge_insert_fill(
    src: DataFrame,
    cols: "list[str]",
    pk_columns: "list[str]",
    update_columns: "list[str] | None",
    tmap: dict,
) -> DataFrame:
    """NOT-MATCHED inserts under a column-subset SET: the staging batch
    carries only keys + listed columns, so inserted rows fill every
    other table column with a typed NULL (the ``INSERT (pks, cols)``
    SQL shape). Full-row merges pass through untouched."""
    if update_columns is None:
        return src
    return src.select(
        *[
            F.col(c)
            if (c in pk_columns or c in update_columns)
            else F.lit(None).cast(tmap[c]).alias(c)
            for c in cols
        ]
    )


def snapshot_merge(
    spark: SparkSession,
    path: str,
    staging: DataFrame,
    *,
    pk_columns: "list[str]",
    when_matched: "str | None" = "update",
    when_not_matched: "str | None" = "insert",
    not_matched_by_source: str = "keep",
    delete_when=None,
    prune_column: "str | None" = None,
    order_column: "str | None" = None,
    meta: "dict | None" = None,
    evolve: bool = False,
    evolve_exclude: "tuple[str, ...]" = (),
    update_columns: "list[str] | None" = None,
) -> int:
    """Full MERGE semantics as ONE copy-on-write commit — the ANSI /
    Delta-MERGE generalization of :func:`snapshot_upsert`, and the one
    merge-on-key body of the snapshot table: the default clause set
    ``("update", "insert", "keep")`` with full rows and no
    ``delete_when`` IS the upsert (same plan, recorded as
    ``"operation": "upsert"``; every other set records ``"merge"`` plus
    its ``clauses``):

    - ``when_matched``: what happens to keys present in BOTH table and
      staging — ``"update"`` (staging row replaces), ``"delete"``
      (row removed), or ``None`` (table row kept, staging ignored);
    - ``when_not_matched``: staging-only keys — ``"insert"`` or
      ``None`` (ignored);
    - ``not_matched_by_source``: table-only keys — ``"keep"`` or
      ``"delete"`` (the replace-domain / full-sync clause; requires
      scanning every file, so ``prune_column`` must be None for it);
    - ``delete_when``: a Column predicate on the staging row — Delta's
      ``WHEN MATCHED AND cond THEN DELETE`` shape, the one-commit CDC
      changelog apply (rows where it holds act as tombstones: their
      keys still victimize files and evict the old row, but the row
      is never written; staging-only tombstones are simply not
      inserted). Evaluated AFTER the ``order_column`` collapse, so a
      key whose NEWEST changelog row is a delete dies even if older
      rows in the same batch upserted it. Requires
      ``when_matched='update'`` (with ``None``/``'delete'`` the
      predicate could not change the outcome — refused loudly rather
      than ignored).

    The reference's MERGE family (M3a–f, SqlManager.java:503-512) is
    the sink database's UPDATE+INSERT; these clauses are the modern
    lakehouse surface over the same staging-batch shape. Clause
    combinations that can never touch a row raise.

    Mechanics: the batch collapses to its newest row per PK by
    ``order_column`` and is conformed ONCE — projected onto the table
    columns (the pk + ``update_columns`` subset under a column-subset
    SET; the pk columns alone for a delete-only merge) and same-family
    drift cast DOWN to the pinned schema. Victims = files that may
    contain a staging key (per-key interval pruning) or all files
    under the by-source clause. Rows are re-partitioned among KEPT
    (victim rows whose clause preserves them) and ADDED (staging rows
    whose clause admits them — matched-key membership decided against
    the victim rows, which by construction hold every staging key the
    table has; a full-row update + insert adds the whole batch and
    needs no such split). Manifest = parent minus victims plus the
    rewrite; publish is the OCC loop with the pk_guard (a concurrent
    commit adding rows with this batch's keys refuses rather than
    serializing wrongly). Staging must carry every table column when
    rows can be ADDED; a delete-only merge needs only ``pk_columns``.

    ``evolve=True`` is MERGE WITH SCHEMA EVOLUTION (the
    snapshot_upsert contract, r13: VERDICT r12 item 3): staging
    columns beyond the table's are ADDED to the pinned schema
    (same-family widening included) instead of dropped — a CDC
    changelog that grows a column mid-stream merges in ONE call, no
    manual evolve-then-merge two-step. The order column (if not a
    table column) and the internal tombstone flag stay staging-side.
    Requires a row-adding clause (``when_matched='update'`` or
    ``when_not_matched='insert'``): a delete-only merge projects
    staging to its pk columns, so evolution there would be a silent
    no-op — refused loudly instead. ``evolve_exclude`` names staging
    columns that are batch METADATA, not data — the CDC changelog's
    ``op`` column that ``delete_when`` reads is the canonical case:
    it must ride the staging frame so the predicate can see it, but
    must never be evolved into the table.

    ``update_columns`` (r13) is Delta's column-subset SET — ``WHEN
    MATCHED THEN UPDATE SET c = src.c`` for just the listed columns:
    a partial-update changelog carries ONLY ``pk_columns`` +
    ``update_columns``; matched rows keep every other column's CURRENT
    value from the victim row (including staging NULLs on listed
    columns — SET takes the source value verbatim), and
    not-matched inserts (when that clause is on) fill unlisted columns
    with NULL (the ``INSERT (pks, cols)`` SQL shape). Requires
    ``when_matched='update'``; primary key columns can never be
    listed; under ``evolve=True`` only the listed columns participate
    in evolution. Composes with ``delete_when`` (a tombstone still
    needs only its key).

    PK-uniqueness assumption (ADVICE r13): like every MERGE, the
    ``pk_columns`` are assumed to identify at most ONE table row. On a
    table that nevertheless holds duplicate rows per key, the paths
    intentionally follow Delta's "update every matched copy" only in
    the subset path: ``update_columns`` emits one updated row PER
    duplicate (the victim join preserves multiplicity), while the
    full-row path (``update_columns=None``) replaces all copies with
    the single staging row — collapsing the duplicates. Deduplicate
    first (dedup_keep_latest / an ``order_column`` upsert) if the two
    behaviors must agree; neither is a supported steady state.

    A merge that touches nothing — no victim files and no rows
    admitted by any clause (e.g. a delete-only batch of keys absent
    from the table) — returns the CURRENT snapshot id without
    publishing (Delta's no-op MERGE behavior): burning a snapshot id
    and a manifest copy on a byte-identical state would make replayed
    empty changelog batches inflate the commit log. Returns the new
    (or, for a no-op, current) snapshot id."""
    from pyspark.sql.types import StructType

    upsert = delete_when is None and update_columns is None and (
        when_matched, when_not_matched, not_matched_by_source,
    ) == ("update", "insert", "keep")
    op = "snapshot_upsert" if upsert else "snapshot_merge"
    valid_m = (None, "update", "delete")
    if when_matched not in valid_m:
        raise ValueError(f"when_matched {when_matched!r}: use {valid_m}")
    if when_not_matched not in (None, "insert"):
        raise ValueError(
            f"when_not_matched {when_not_matched!r}: use None or 'insert'"
        )
    if not_matched_by_source not in ("keep", "delete"):
        raise ValueError(
            f"not_matched_by_source {not_matched_by_source!r}: use "
            "'keep' or 'delete'"
        )
    if (
        when_matched is None
        and when_not_matched is None
        and not_matched_by_source == "keep"
    ):
        raise ValueError("merge with no active clause is a no-op")
    if not pk_columns:
        raise ValueError(f"{op} requires pk columns")
    if delete_when is not None and when_matched != "update":
        raise ValueError(
            "delete_when requires when_matched='update' — under "
            f"{when_matched!r} the predicate could never change a row's "
            "outcome"
        )
    if evolve and when_matched != "update" and when_not_matched != "insert":
        raise ValueError(
            "evolve=True requires a row-adding clause "
            "(when_matched='update' or when_not_matched='insert') — a "
            "delete-only merge projects staging to its pk columns, so "
            "evolution would be a silent no-op"
        )
    if update_columns is not None:
        if when_matched != "update":
            raise ValueError(
                "update_columns requires when_matched='update' — no "
                "other clause writes staging values onto matched rows"
            )
        if not update_columns:
            raise ValueError(
                "update_columns must be a non-empty list (or None for "
                "the full-row replace)"
            )
        in_pk = [c for c in update_columns if c in pk_columns]
        if in_pk:
            raise ValueError(
                f"primary key columns cannot be updated: {in_pk} — a "
                "key change is a delete+insert, not an update"
            )
    if not_matched_by_source == "delete" and prune_column is not None:
        raise ValueError(
            "not_matched_by_source='delete' must examine every file — "
            "prune_column cannot be combined with it"
        )
    if prune_column is not None and prune_column not in pk_columns:
        # pruning on a MUTABLE column is unsound: an update that moves
        # the value out of the batch's range would miss the key's old
        # row's file and leave a duplicate PK behind
        raise ValueError(
            f"prune_column {prune_column!r} must be one of pk_columns "
            f"{pk_columns} — pruning on a mutable column can miss the "
            "old version of an updated key"
        )
    fs = TableFS(spark, path)
    parent, prec = _require_tip(fs, path)
    _refuse_bucketed(prec, path, op)
    tschema = _record_schema(prec)
    m = _manifest_table(path, prec)
    table_files = manifest_files(m)
    adds_rows = when_matched == "update" or when_not_matched == "insert"
    staging_c = staged = _staged(staging, pk_columns, order_column)
    try:
        # the pinned snapshot schema is authoritative (a single file's
        # footer may predate an additive evolution); legacy tables
        # without one fall back to a file footer — including under
        # evolve=True, where ignoring evolution silently would
        # contradict the documented MERGE-with-evolution contract
        if evolve:
            # widen the pin by the staging batch BEFORE the projection:
            # the order column (when not already a table column) and
            # the evolve_exclude columns stay staging-side details
            if tschema is None and table_files:
                tschema = _nullable(spark.read.parquet(table_files[0]).schema)
            stg_fields = [
                f for f in _nullable(staging_c.schema).fields
                if f.name not in evolve_exclude
                # under a column-subset SET, only the listed columns
                # (plus keys) participate in evolution — other staging
                # columns are batch baggage, not table data
                and (
                    update_columns is None
                    or f.name in pk_columns
                    or f.name in update_columns
                )
                and not (
                    order_column is not None
                    and f.name == order_column
                    and (
                        tschema is None
                        or order_column not in tschema.fieldNames()
                    )
                )
            ]
            if tschema is not None:
                tschema, _changes = _merge_schemas(
                    tschema, StructType(stg_fields)
                )
            else:  # empty legacy table: staging DEFINES the schema
                tschema = _nullable(StructType(stg_fields))
        fsch = tschema
        if fsch is None:
            fsch = (
                spark.read.parquet(table_files[0]).schema
                if table_files
                else _nullable(staging_c.schema)
            )
        cols = fsch.fieldNames()
        tmap = {f.name: f.dataType for f in fsch.fields}
        # the one staging conform step: project onto the TABLE's columns
        # (the pk + update_columns subset under a column-subset SET, the
        # pk columns alone when no row can be added), so extra batch
        # columns can't poison the table's part-file schemas
        if update_columns is not None:
            unknown = [c for c in update_columns if c not in cols]
            if unknown:
                raise ValueError(
                    f"update_columns not in the table schema: {unknown} — "
                    "pass evolve=True to add them"
                )
        if adds_rows:
            target = [
                c for c in cols
                if update_columns is None
                or c in pk_columns
                or c in update_columns
            ]
        else:
            target = list(pk_columns)
        missing = [c for c in target if c not in staging_c.columns]
        if missing:
            kind = "table" if adds_rows else "pk"
            raise ValueError(f"staging batch lacks {kind} columns {missing}")
        flag = []
        if delete_when is not None:
            # the tombstone flag is computed BEFORE the projection —
            # delete_when typically references a changelog column (op)
            # that is not a table column and would not survive it
            staging_c = staging_c.withColumn(
                "__del", F.coalesce(delete_when, F.lit(False))
            )
            flag = ["__del"]
        proj = [F.col(c) for c in target]
        if adds_rows and tschema is not None:
            # name match alone is not enough: a staging batch carrying a
            # WIDENED type under evolve=False would union-coerce into
            # wide physical files while the record still pins the narrow
            # schema — every later read of the snapshot then fails
            # ('Parquet column cannot be converted'). Same-family drift
            # is cast DOWN to the pin (ANSI mode — Spark 4's default —
            # makes a lossy cast fail loudly at write time, never a
            # silently unreadable snapshot); cross-family drift raises
            # inside _merge_schemas. Under evolve=True the merge above
            # already widened tschema, so no cast occurs.
            pin = StructType([f for f in tschema.fields if f.name in target])
            _, drift = _merge_schemas(
                pin, _nullable(staging_c.select(*target).schema)
            )
            if drift:
                proj = [
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in pin.fields
                ]
        staging_c = staging_c.select(*proj, *flag)
        victims = _victims(m, staging_c, prune_column)
        token = _commit_token()
        data_dir = join(path, "data", f"snap-{parent + 1:06d}-{token}")
        keys = staging_c.select(*pk_columns).distinct()
        # tombstone rows evict (their keys stay in ``keys``) but never
        # re-enter: the ADD source drops them here
        staging_add = (
            staging_c.where(~F.col("__del")).drop("__del")
            if delete_when is not None
            else staging_c
        )
        vreader = (
            spark.read.schema(tschema) if tschema is not None else spark.read
        )
        parts: "list[DataFrame]" = []
        if victims:
            vrows = vreader.parquet(*victims).select(*cols)
            if not_matched_by_source == "keep":
                parts.append(
                    vrows.join(F.broadcast(keys), pk_columns, "left_anti")
                )
            if when_matched is None:
                parts.append(
                    vrows.join(F.broadcast(keys), pk_columns, "left_semi")
                )
        if (
            when_matched == "update"
            and when_not_matched == "insert"
            and update_columns is None
        ):
            # full-row update + insert: the matched and the unmatched
            # staging rows together are the whole batch, so it is added
            # as is — no matched-key split (the upsert plan)
            parts.append(staging_add)
        elif not victims:
            # no file holds any staging key: every staging row is
            # not-matched
            if when_not_matched == "insert":
                parts.append(
                    _merge_insert_fill(
                        staging_add, cols, pk_columns, update_columns, tmap
                    )
                )
        elif adds_rows:
            # keys the table actually has — victims hold every staging
            # key present anywhere, so this is exact
            matched_keys = (
                vrows.select(*pk_columns)
                .join(F.broadcast(keys), pk_columns, "left_semi")
                .distinct()
            )
            if when_matched == "update":
                upd_src = staging_add.join(
                    F.broadcast(matched_keys), pk_columns, "left_semi"
                )
                if update_columns is None:
                    parts.append(upd_src)
                else:
                    # column-subset SET: listed columns take the staging
                    # value (NULLs included — SET is verbatim),
                    # everything else keeps the victim row's current
                    # value; the batch broadcasts into the victim scan,
                    # the corpus side never shuffles
                    non_pk = [c for c in cols if c not in pk_columns]
                    parts.append(
                        vrows.alias("v")
                        .join(F.broadcast(upd_src.alias("s")), pk_columns)
                        .select(
                            *pk_columns,
                            *[
                                (
                                    F.col(f"s.{c}")
                                    if c in update_columns
                                    else F.col(f"v.{c}")
                                ).alias(c)
                                for c in non_pk
                            ],
                        )
                        .select(*cols)
                    )
            if when_not_matched == "insert":
                parts.append(
                    _merge_insert_fill(
                        staging_add.join(
                            F.broadcast(matched_keys), pk_columns, "left_anti"
                        ),
                        cols, pk_columns, update_columns, tmap,
                    )
                )
        if not victims and not parts:
            # nothing pruned in, nothing admitted by any clause (e.g. a
            # delete-only batch of keys absent from the table): the
            # post-merge state is byte-identical, so return the current
            # tip instead of burning a snapshot id + full manifest copy
            # on an empty rewrite (Delta's no-op MERGE behavior —
            # replayed empty changelog batches must not inflate the log).
            # Caller-supplied ``meta`` is DROPPED with the commit
            # (ADVICE r13): a no-op publishes nothing, so e.g. a CDC
            # batch_id riding meta is not recorded and
            # last_committed_batch_id does not advance — replay of a
            # no-op is idempotent, and audit consumers must read a
            # missing batch id as "no effect" (documented at the
            # stream_snapshot_cdc_replica call site too)
            return parent
        if parts:
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p)
        else:
            merged = spark.createDataFrame(
                [], tschema if tschema is not None else staging_add.schema
            )
        merged.write.mode("overwrite").parquet(data_dir)
        new_m = read_footers(list_parquet(data_dir), manifest_columns(m))
        rec = {
            "operation": "upsert" if upsert else "merge",
            "new_data_dir": data_dir,
            "victim_files": len(victims),
        }
        if not upsert:
            rec["clauses"] = {
                "when_matched": when_matched,
                "when_not_matched": when_not_matched,
                "not_matched_by_source": not_matched_by_source,
                **({"delete_when": True} if delete_when is not None else {}),
                **(
                    {"update_columns": list(update_columns)}
                    if update_columns is not None
                    else {}
                ),
            }
        if tschema is not None:
            rec["schema"] = tschema.json()
        return _cow_publish(spark, fs, path, parent, m, victims, new_m, {
            **rec, **(meta or {}),
        }, op=op, token=token, pk_guard={
            "pk_columns": list(pk_columns),
            "keys_df": keys,
            "schema": tschema,
            "orig_files": set(table_files),
        })
    finally:
        _unstage(staged)
