"""File sinks — CSV/ORC writers (SURVEY.md §2.2 K7/K8/K11/K12) plus
parquet/json/avro.

Spark-first: the reference's per-task temp files + post-job
FileChannel/OrcFile.mergeFiles concatenation (CsvFileManager.java:235-311,
OrcFileManager.java:141-196) disappear — Spark writes part-files natively
and ``single_file=True`` (coalesce(1)) reproduces the merged-single-file
behavior when a user needs one object.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from replicadb_spark.sinks.s3 import rewrite_s3_url


def write_file(
    df: DataFrame,
    path: str,
    fmt: str,
    *,
    mode: str = "overwrite",
    single_file: bool = False,
    header: bool = True,
    compression: str | None = None,
    partition_by: list[str] | tuple[str, ...] | None = None,
    max_records_per_file: int | None = None,
    dynamic_overwrite: bool = False,
    **options: str,
) -> None:
    """Format-dispatched file sink.

    ``mode='append'`` reproduces the reference's incremental file append
    (CsvFileManager.java:295-305); ``compression`` carries the ORC codec
    option (OrcFileManager.java:205-220).

    Beyond the reference (it writes flat files only):

    - ``partition_by``: hive-style directory layout — the 100 TB table
      layout that makes downstream partition pruning free. Combine with
      ``dynamic_overwrite=True`` to replace ONLY the partitions present
      in ``df`` (incremental backfill) instead of truncating the table.
    - ``max_records_per_file``: bounds output file size so a skewed
      write task can't produce a multi-GB file.
    """
    fmt = fmt.lower()
    path = rewrite_s3_url(path)
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
        if dynamic_overwrite and mode == "overwrite":
            # session-level knob; scope it to this write via the
            # writer option Spark exposes for DSv1 file sinks
            writer = writer.option("partitionOverwriteMode", "dynamic")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if compression:
        writer = writer.option("compression", compression)
    for k, v in options.items():
        writer = writer.option(k, str(v))
    if fmt == "csv":
        writer.option("header", str(header).lower()).csv(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "avro":
        try:
            writer.format("avro").save(path)
        except Exception as exc:  # pragma: no cover - environment-dependent
            raise NotImplementedError("avro writer requires the spark-avro package") from exc
    else:
        raise ValueError(f"unsupported sink file format: {fmt}")


def compact_files(
    spark,
    path: str,
    fmt: str = "parquet",
    *,
    target_file_mb: int = 128,
    compression: str | None = None,
) -> int:
    """Small-file compaction: rewrite a directory of part-files into
    ~``target_file_mb``-sized files. Returns the new file count.

    The 100 TB operational problem this solves: streaming/incremental
    sinks accrete thousands of KB-scale files per partition, and every
    downstream scan then pays a task per file. Compaction = read (one
    splittable scan) → repartition to ceil(bytes/target) → write to a
    temp directory → :func:`swap_dir` (never overwrite the directory a
    live plan reads from).
    """
    import math
    import uuid

    from replicadb_spark.fs import TableFS, join

    fs = TableFS(spark, path)
    parent, name = _split_dir(path)
    total_bytes = 0
    pattern = join(path, "*")
    for _ in range(4):  # part files, then partition-dir nesting
        total_bytes += sum(sz for _f, sz in fs.glob(pattern))
        pattern = pattern[:-1] + "*/*"
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    reader = spark.read
    df = getattr(reader, fmt)(path)
    tmp = join(parent, f".{name}.compact-{uuid.uuid4().hex[:8]}")
    writer = df.repartition(n_files).write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    getattr(writer, fmt)(tmp)
    old = join(parent, f".{name}.old-{uuid.uuid4().hex[:8]}")
    swap_dir(spark, path, tmp, old)
    return n_files


def swap_dir(spark, path: str, tmp: str, old: str) -> None:
    """Replace the directory ``path`` with the fully written ``tmp`` by
    rename-aside, so no crash point loses data: (1) path → ``old``
    (table briefly absent, both copies intact), (2) tmp → path (table
    live on the new files), (3) delete ``old``. A crash between 1 and 2
    leaves both directories recoverable; delete-then-rename would
    instead leave the path absent with the data stranded in ``tmp``. A
    failed rename raises with where the intact data sits. A stale
    ``old`` left by an earlier crash is removed first. All moves go
    through the Hadoop FS, so any Spark-readable URI works: rename is
    atomic on HDFS/local; on object stores it degrades to copy+delete,
    which still never corrupts the source because ``tmp`` was complete
    before ``path`` is touched. The incremental file mode and
    :func:`compact_files` both swap through here."""
    from replicadb_spark.fs import TableFS

    fs = TableFS(spark, path)
    fs.delete(old, recursive=True)
    try:
        fs.rename_no_overwrite(path, old)
    except IOError as e:
        raise IOError(
            f"rename {path} aside failed; new data is intact at {tmp}"
        ) from e
    try:
        fs.rename_no_overwrite(tmp, path)
    except IOError as e:
        raise IOError(
            f"rename {tmp} -> {path} failed; original is intact at {old}, "
            f"new data at {tmp}"
        ) from e
    fs.delete(old, recursive=True)


def _split_dir(path: str) -> "tuple[str, str]":
    """(parent, name) of a directory path/URI — string surgery only,
    never os.path (URI schemes must survive)."""
    p = path.rstrip("/")
    i = p.rfind("/")
    return p[:i], p[i + 1:]


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: "list[str] | tuple[str, ...]",
    n_buckets: int,
    sort_cols: "list[str] | tuple[str, ...] | None" = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Hash-bucketed managed/external table (``bucketBy`` +
    ``saveAsTable``) — the co-located-join layout the flat file sinks
    can't express: two tables bucketed on the same key with the same
    bucket count join WITHOUT a shuffle (each bucket pair is read
    co-partitioned; with ``sort_cols`` the per-bucket sort is
    pre-materialized too, so SortMergeJoin degenerates to a zero-sort
    merge of pre-sorted bucket files).

    This is the Spark-native answer to the reference's
    partition-aligned parallel replication (its source and sink tasks
    pair up 1:1 over hash ranges — TableManager fan-out, SURVEY §2.5
    F1): here the pairing is persisted in the table layout, so EVERY
    downstream join/aggregation on the bucket key inherits it, not just
    one replication run.

    Scale: bucket pruning + shuffle-free joins are the difference
    between O(data) exchange per join and zero at 100 TB; pick
    n_buckets so data_size/n_buckets ≈ 128-512 MB per bucket file per
    partition. Plan proof: tests/test_bucketed_join.py pins a
    bucketed⋈bucketed SortMergeJoin with ZERO Exchange operators.

    Note ``df.repartition(n_buckets, *bucket_cols)`` before calling —
    repartitioning on the same murmur3 hash as the bucket spec gives
    ONE file per bucket (any other input layout writes one file per
    task per bucket, fragmenting into tasks×buckets files AND losing
    the sorted-scan eligibility). Reading the persisted sort order
    back additionally needs
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``
    (SPARK-28616 gates it off because multi-file buckets would force
    single-threaded concatenation)."""
    writer = df.write.format(fmt).mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _bucket_of(filename: str) -> "int | None":
    """Bucket id from a bucketed-table data file name — Spark encodes it
    as the ``_NNNNN`` suffix before the codec extension
    (``part-00000-<uuid>_00003.c000.snappy.parquet`` → 3)."""
    import re

    m = re.search(r"_(\d{5})\.c", filename)
    return int(m.group(1)) if m else None


def _touched_buckets(df, bucket_cols, n_buckets: int) -> "list[int]":
    """Sorted ids of the buckets ``df``'s rows hash into under Spark's
    bucketBy rule (``pmod(murmur3 hash, n_buckets)``), from one
    ``collect_set`` aggregate."""
    from pyspark.sql import functions as F

    return sorted(
        df.agg(
            F.collect_set(F.pmod(F.hash(*bucket_cols), F.lit(n_buckets)))
        ).first()[0]
    )


def upsert_bucketed_table(
    spark,
    staging: DataFrame,
    table: str,
    *,
    pk_columns: "list[str]",
    bucket_cols: "list[str] | tuple[str, ...]",
    n_buckets: int,
    sort_cols: "list[str] | tuple[str, ...] | None" = None,
    fmt: str = "parquet",
    path: str | None = None,
    order_column: str | None = None,
) -> "list[int]":
    """PK upsert (the reference's incremental MERGE, M3 —
    SqlManager.java:503-512) into a bucketed table, rewriting ONLY the
    buckets the staging batch touches. Returns the touched bucket ids.

    This is what makes the reference's core mode compose with the
    100 TB layout: an incremental batch whose keys land in K of N
    buckets reads and rewrites K/N of the table — the other buckets'
    files are left physically untouched (pinned by the test), so a
    daily 0.1% delta into a 1000-bucket table costs ~the delta, not a
    table rewrite. Bucket membership is computed with the SAME hash
    Spark's bucket spec uses (murmur3 ``F.hash`` pmod n_buckets), so
    file-level surgery and the metastore spec agree; the merged rows
    re-enter through a real ``bucketBy`` write (via a temp external
    table with the identical spec), keeping every downstream
    zero-shuffle join and bucket-pruning guarantee intact.

    Steps: (1) staged bucket ids — ≤ n_buckets ints collected; (2) read
    ONLY the victim bucket files; (3) ``modes.upsert_dataframe``
    (union + one PK-shuffle last-wins window — the relational MERGE);
    (4) bucketBy-write the merged rows to a temp table (only touched
    buckets produce files); (5) per-bucket rename-aside swap: victims
    move to a ``.old-*`` sibling, new files move in, then both temp
    dirs drop. A crash mid-swap leaves every victim file recoverable
    under the ``.old-*`` name (the compact_files dance, file-granular).
    All listing/rename/delete goes through the Hadoop FileSystem
    (replicadb_spark.fs), so the table location may be any
    Spark-readable URI, not just the driver's local disk."""
    import uuid

    from replicadb_spark.fs import TableFS, join

    from replicadb_spark.modes import upsert_dataframe

    if not pk_columns:
        raise ValueError("bucketed upsert requires pk columns")
    if not spark.catalog.tableExists(table):
        write_bucketed_table(
            staging.repartition(n_buckets, *bucket_cols),
            table,
            bucket_cols=bucket_cols,
            n_buckets=n_buckets,
            sort_cols=sort_cols,
            fmt=fmt,
            mode="overwrite",
            path=path,
        )
        return _touched_buckets(staging, bucket_cols, n_buckets)
    if path is None:
        loc = [
            r["data_type"]
            for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
            if r["col_name"] == "Location"
        ]
        # the catalog reports a qualified URI (file:/…, hdfs://…) —
        # TableFS speaks it directly, no prefix stripping
        path = loc[0] if loc else None
        if path is None:
            raise ValueError(f"cannot resolve the storage path of {table}")

    cols = spark.table(table).columns
    touched = _touched_buckets(staging, bucket_cols, n_buckets)
    if not touched:
        return []
    touched_set = set(touched)

    fs = TableFS(spark, path)
    parent, name = _split_dir(path)
    victims = [
        n
        for n in fs.list_names(path)
        if not n.startswith(("_", ".")) and _bucket_of(n) in touched_set
    ]
    if victims:
        existing = spark.read.format(fmt).load(
            [join(path, n) for n in victims]
        ).select(*cols)
    else:
        existing = spark.createDataFrame([], spark.table(table).schema)
    merged = upsert_dataframe(
        existing, staging.select(*cols), list(pk_columns), order_column
    )

    tmp_table = f"{table}___repdb_upsert"
    tmp_path = join(parent, f".{name}.upsert-{uuid.uuid4().hex[:8]}")
    spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")
    write_bucketed_table(
        merged.repartition(n_buckets, *bucket_cols),
        tmp_table,
        bucket_cols=bucket_cols,
        n_buckets=n_buckets,
        sort_cols=sort_cols,
        fmt=fmt,
        mode="overwrite",
        path=tmp_path,
    )
    old_dir = join(parent, f".{name}.old-{uuid.uuid4().hex[:8]}")
    fs.mkdirs(old_dir)
    for n in victims:
        fs.rename_no_overwrite(join(path, n), join(old_dir, n))
    for n in fs.list_names(tmp_path):
        if _bucket_of(n) in touched_set:
            fs.rename_no_overwrite(join(tmp_path, n), join(path, n))
    spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")  # external: metadata only
    fs.delete(tmp_path, recursive=True)
    fs.delete(old_dir, recursive=True)
    spark.catalog.refreshTable(table)
    return touched
