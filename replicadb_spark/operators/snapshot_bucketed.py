"""Bucketed snapshot table: time travel AND shuffle-free joins in one
layout — the bridge between the two merge-capable file sinks
(VERDICT r8 item 7).

The snapshot table (operators/snapshot_table) gives atomic commits,
time travel and data skipping but reads raw file lists, so every join
shuffles. The bucketed table (sinks/files.write_bucketed_table) gives
zero-Exchange joins but has no history: an upsert physically replaces
bucket files. This module composes them with ONE commit path:

- data files are written through a real ``bucketBy`` write (Spark's
  murmur3 bucket spec, one file per bucket), then moved into
  ``bkt=K/`` subdirectories of the commit's immutable data dir;
- the commit record carries the bucket spec (``bucket_cols``,
  ``n_buckets``) next to the usual snapshot metadata — the layout is
  versioned with the data, not bolted on;
- upserts rewrite WHOLE buckets (victims = every visible file of a
  touched bucket), so at any snapshot each bucket's visible files
  live in exactly one commit directory — the invariant that makes a
  time-traveled snapshot registrable as a bucketed table;
- ``snapshot_read_bucketed`` resolves a snapshot's per-bucket
  directories from the manifest and registers a temp EXTERNAL table
  that is PARTITIONED BY a synthetic ``bkt`` column (one partition
  per bucket, each with a custom LOCATION pointing into whichever
  commit dir currently owns that bucket) AND CLUSTERED BY the bucket
  spec. Spark's bucketed scan groups files by the bucket id encoded
  in the file NAME across partitions, so a self-join on the bucket
  key at ANY retained snapshot runs with ZERO Exchange — pinned by
  the snapshot_bucketed_join_gate and tests/test_snapshot_bucketed.py.

Scale shape: an incremental batch touching K of N buckets reads and
rewrites K/N of the table (the upsert_bucketed_table economics) while
every parent snapshot stays readable (the snapshot-table contract);
downstream joins on the bucket key never shuffle at any version.
Reference parity: composes the reference's incremental MERGE (M3,
SqlManager.java:503-512) with its partition-aligned fan-out (F1) —
persisted, versioned, and inherited by every later join.

Maintenance: ``snapshot_compact``/``snapshot_delete`` refuse bucketed
tables (they would emit files without bucket ids and break the
one-dir-per-bucket invariant); whole-bucket upserts already bound the
file count at one file per touched bucket per commit.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from replicadb_spark.fs import TableFS, join
from replicadb_spark.operators.manifest import (
    drop_files,
    list_parquet,
    manifest_columns,
    manifest_files,
    read_footers,
    write_manifest,
)
from replicadb_spark.operators.snapshot_table import (
    _manifest_path,
    _manifest_table,
    _publish,
    _read_record,
    _require_tip,
    _resolve,
    _tip,
)
from replicadb_spark.sinks.files import _bucket_of, _touched_buckets


def _write_bucket_files(
    spark: SparkSession,
    df: DataFrame,
    data_dir: str,
    bucket_cols: "list[str]",
    n_buckets: int,
) -> None:
    """One file per bucket via a real bucketBy write (temp external
    table — dropping it is metadata-only, the files stay), then move
    each file into its ``bkt=K/`` subdir through the Hadoop FS."""
    tmp = f"snapbkt_tmp_{uuid.uuid4().hex[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")
    (
        df.repartition(n_buckets, *bucket_cols)
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .option("path", data_dir)
        .saveAsTable(tmp)
    )
    spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")
    fs = TableFS(spark, data_dir)
    for name in fs.list_names(data_dir):
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        b = _bucket_of(name)
        if b is None:
            raise ValueError(f"bucketBy write produced unbucketed file {name}")
        fs.mkdirs(join(data_dir, f"bkt={b}"))
        fs.rename_no_overwrite(
            join(data_dir, name), join(data_dir, f"bkt={b}", name)
        )


def snapshot_commit_bucketed(
    df: DataFrame,
    path: str,
    *,
    bucket_cols: "list[str]",
    n_buckets: int,
    stat_columns: "list[str] | None" = None,
    meta: "dict | None" = None,
) -> int:
    """Commit ``df`` as a bucketed snapshot (full table image — the
    initial load, or an overwrite that republishes every bucket). The
    commit record carries the bucket spec; incremental changes go
    through :func:`snapshot_upsert_bucketed`."""
    spark = df.sparkSession
    fs = TableFS(spark, path)
    parent, prev = _tip(fs, path)
    if prev is not None and prev.get("n_buckets") not in (None, n_buckets):
        raise ValueError(
            f"table is bucketed INTO {prev['n_buckets']}; a commit with "
            f"{n_buckets} would fork the layout"
        )
    snap_id = (parent or 0) + 1
    data_dir = join(path, "data", f"snap-{snap_id:06d}")
    _write_bucket_files(spark, df, data_dir, list(bucket_cols), n_buckets)
    write_manifest(
        read_footers(list_parquet(data_dir), stat_columns),
        _manifest_path(path, snap_id),
    )
    _publish(fs, path, {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "operation": "overwrite",
        "new_data_dir": data_dir,
        "bucket_cols": list(bucket_cols),
        "n_buckets": n_buckets,
        **(meta or {}),
    })
    return snap_id


def snapshot_upsert_bucketed(
    spark: SparkSession,
    path: str,
    staging: DataFrame,
    *,
    pk_columns: "list[str]",
    order_column: "str | None" = None,
    meta: "dict | None" = None,
) -> int:
    """PK upsert as one copy-on-write commit that rewrites WHOLE
    touched buckets: victims = every visible file whose bucket id the
    staging batch hashes into; merged = victims' rows merged with the
    batch (modes.upsert_dataframe last-wins semantics); the merged
    rows re-enter through the same bucketBy write, so the new files
    carry correct bucket ids and one commit dir owns each touched
    bucket. Untouched buckets' files are never read, rewritten, or
    moved. Returns the new snapshot id."""
    from replicadb_spark.modes import upsert_dataframe

    if not pk_columns:
        raise ValueError("bucketed snapshot upsert requires pk columns")
    fs = TableFS(spark, path)
    parent, rec = _require_tip(fs, path)
    bucket_cols, n_buckets = rec.get("bucket_cols"), rec.get("n_buckets")
    if not bucket_cols:
        raise ValueError(
            f"{path} is not a bucketed snapshot table — its commit record "
            "has no bucket spec; use snapshot_upsert"
        )
    if not set(bucket_cols) <= set(pk_columns):
        # an update may not move a row between buckets: the bucket key
        # must be part of the immutable PK
        raise ValueError(
            f"bucket_cols {bucket_cols} must be a subset of pk_columns "
            f"{pk_columns}"
        )
    m = _manifest_table(path, rec)
    files = manifest_files(m)
    cols = spark.read.parquet(files[0]).columns if files else staging.columns
    missing = [c for c in cols if c not in staging.columns]
    if missing:
        raise ValueError(f"staging batch lacks table columns {missing}")
    touched = _touched_buckets(staging, bucket_cols, n_buckets)
    touched_set = set(touched)
    victims = [
        f for f in files
        if _bucket_of(f.rsplit("/", 1)[-1]) in touched_set
    ]
    existing = (
        spark.read.parquet(*victims).select(*cols)
        if victims
        else spark.createDataFrame([], spark.read.parquet(files[0]).schema)
        if files
        else staging.select(*cols).limit(0)
    )
    merged = upsert_dataframe(
        existing, staging.select(*cols), list(pk_columns), order_column
    )
    snap_id = parent + 1
    data_dir = join(path, "data", f"snap-{snap_id:06d}")
    _write_bucket_files(spark, merged, data_dir, list(bucket_cols), n_buckets)
    new_m = read_footers(list_parquet(data_dir), manifest_columns(m))
    write_manifest(
        pa.concat_tables([drop_files(m, victims), new_m]),
        _manifest_path(path, snap_id),
    )
    _publish(fs, path, {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "operation": "upsert",
        "new_data_dir": data_dir,
        "victim_files": len(victims),
        "touched_buckets": touched,
        "bucket_cols": list(bucket_cols),
        "n_buckets": n_buckets,
        **(meta or {}),
    })
    return snap_id


def snapshot_read_bucketed(
    spark: SparkSession,
    path: str,
    *,
    snapshot_id: "int | None" = None,
    table_name: "str | None" = None,
) -> DataFrame:
    """Register snapshot ``snapshot_id`` (current if None) as a temp
    EXTERNAL partitioned+bucketed table and return its DataFrame: one
    ``bkt=K`` partition per bucket, each LOCATED in whichever commit
    directory owns that bucket at this snapshot. Spark's bucketed scan
    groups the partitions' files by the bucket id in the file name, so
    joins/aggregations on the bucket key run WITHOUT an Exchange — on
    the time-traveled state, not just the current one.

    The table is metadata-only (external, custom partition locations);
    ``DROP TABLE`` it when done — dropping never touches data files.
    Caller must hold the snapshot retained (expire invalidates it)."""
    fs = TableFS(spark, path)
    sid = _resolve(fs, snapshot_id)
    rec = _read_record(fs, path, sid)
    bucket_cols, n_buckets = rec.get("bucket_cols"), rec.get("n_buckets")
    if not bucket_cols:
        raise ValueError(
            f"snapshot {sid} of {path} carries no bucket spec — "
            "use snapshot_read"
        )
    files = manifest_files(_manifest_table(path, rec))
    if not files:
        raise ValueError(f"snapshot {sid} is empty")
    bucket_dir: dict[int, str] = {}
    for f in files:
        d, name = f.rsplit("/", 1)
        b = _bucket_of(name)
        if b is None:
            raise ValueError(f"visible file {f} has no bucket id")
        if bucket_dir.setdefault(b, d) != d:
            raise ValueError(
                f"bucket {b} spans {bucket_dir[b]} and {d} at snapshot "
                f"{sid} — the whole-bucket-rewrite invariant is broken"
            )
    schema = spark.read.parquet(files[0]).schema
    name = table_name or f"snap_bucketed_{uuid.uuid4().hex[:8]}"
    cols_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    clustered = ", ".join(f"`{c}`" for c in bucket_cols)
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    spark.sql(
        f"CREATE TABLE `{name}` ({cols_ddl}, `bkt` INT) USING parquet "
        f"PARTITIONED BY (bkt) CLUSTERED BY ({clustered}) "
        f"INTO {n_buckets} BUCKETS "
        f"LOCATION '{join(path, '_readers', name)}'"
    )
    for b in sorted(bucket_dir):
        spark.sql(
            f"ALTER TABLE `{name}` ADD PARTITION (bkt={b}) "
            f"LOCATION '{bucket_dir[b]}'"
        )
    return spark.table(name).drop("bkt")
