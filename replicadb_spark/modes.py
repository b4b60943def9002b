"""Replication modes — the engine's "query plans" (SURVEY.md §2.3).

- ``complete`` (M1): truncate-and-reload.
- ``complete-atomic`` (M2): load staging, swap DELETE+INSERT in ONE
  transaction on ONE driver-held JDBC connection (Spark writes cannot
  share a transaction — SqlManager.java:386-434's shape survives as
  driver-side SQL).
- ``incremental`` (M3): load staging, PK-keyed MERGE into the sink.

For file sinks the same three modes exist with DataFrame semantics:
truncate = overwrite, merge = PK upsert computed as a union + last-wins
dedup (the relational meaning of every dialect's MERGE, M3a-M3f).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from replicadb_spark import types as tp
from replicadb_spark.options import ReplicaJob
from replicadb_spark.sql import dialects


def upsert_dataframe(
    sink: DataFrame,
    staging: DataFrame,
    pk_columns: list[str],
    order_column: str | None = None,
) -> DataFrame:
    """The relational core of M3a-M3f: staging rows replace sink rows on
    PK match, new staging rows insert, unmatched sink rows survive.

    Plan shape: union + per-PK last-wins dedup via a window over the
    union — ONE shuffle on the PK (vs join+union's two). Priority column
    marks staging rows as winners; ``order_column`` (desc) breaks ties
    when one side carries several rows per PK (e.g. a streaming
    micro-batch with multiple updates for a key). At 100 TB the shuffle
    is on the PK, which is as partition-friendly as an upsert can be;
    AQE handles skew.
    """
    if not pk_columns:
        raise ValueError("upsert requires pk columns")
    cols = sink.columns
    tagged = sink.select(*cols).withColumn("__pri", F.lit(0)).unionByName(
        staging.select(*cols).withColumn("__pri", F.lit(1))
    )
    order = [F.col("__pri").desc()]
    if order_column:
        order.append(F.col(order_column).desc())
    w = Window.partitionBy(*pk_columns).orderBy(*order)
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__pri", "__rn")
    )


def latest_per_key(
    df: DataFrame, pk_columns: list[str], order_column: str | None
) -> DataFrame:
    """The newest row per PK by ``order_column`` (desc) — the one
    collapse every merge-on-key batch runs before it merges (a streaming
    micro-batch or changelog may carry several rows per key). ``df`` is
    returned unchanged when ``order_column`` is None. Ties on
    (key, order) keep an arbitrary row."""
    if order_column is None:
        return df
    w = Window.partitionBy(*pk_columns).orderBy(F.col(order_column).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- JDBC-side mode orchestration ------------------------------------------

def _jvm_connection(spark: SparkSession, url: str, user: str | None, password: str | None):
    """One driver-held JDBC connection via the JVM's DriverManager —
    the transaction holder the reference keeps in SqlManager.getConnection.
    Requires the driver jar on Spark's classpath (gated in tests)."""
    jvm = spark._sc._jvm  # noqa: SLF001
    props = jvm.java.util.Properties()
    if user:
        props.setProperty("user", user)
    if password:
        props.setProperty("password", password)
    return jvm.java.sql.DriverManager.getConnection(url, props)


def execute_sql(spark: SparkSession, url: str, statements: list[str], *,
                user: str | None = None, password: str | None = None,
                transactional: bool = False) -> None:
    """Run driver-side DDL/DML. ``transactional=True`` = one commit for
    all statements (the complete-atomic swap, SqlManager.java:404-434)."""
    conn = _jvm_connection(spark, url, user, password)
    try:
        if transactional:
            conn.setAutoCommit(False)
        stmt = conn.createStatement()
        try:
            for sql in statements:
                stmt.execute(sql)
        finally:
            stmt.close()
        if transactional:
            conn.commit()
    except Exception:
        if transactional:
            conn.rollback()
        raise
    finally:
        conn.close()


def sink_primary_keys(spark: SparkSession, job: ReplicaJob) -> list[str]:
    """PK discovery from DatabaseMetaData.getPrimaryKeys
    (SqlManager.java:282-353), including the case-insensitive retry."""
    conn = _jvm_connection(spark, job.sink_connect, job.sink_user, job.sink_password)
    try:
        meta = conn.getMetaData()
        table = job.sink_table
        schema = None
        if table and "." in table:
            schema, table = table.split(".", 1)
        pks: list[str] = []
        for candidate in (table, table.upper(), table.lower()):
            rs = meta.getPrimaryKeys(None, schema, candidate)
            while rs.next():
                pks.append(rs.getString("COLUMN_NAME"))
            rs.close()
            if pks:
                break
        return pks
    finally:
        conn.close()


def _bulk_append(spark: SparkSession, job: ReplicaJob, df: DataFrame, table: str) -> None:
    """Append via the fastest available path: Postgres sinks take the
    COPY FROM STDIN stream (K2, PostgresqlManager.java:49-192), MySQL/
    MariaDB the LOAD DATA infile stream (K3, MySQLManager.java:51-227)
    when a client lib is present on the executors; everything else (and
    the no-client fallback) the connector batch writer."""
    from replicadb_spark.sinks.jdbc import write_jdbc

    dialect = dialects.dialect_from_url(job.sink_connect)
    if dialect == "postgresql":
        try:
            from replicadb_spark.sinks.pg_copy import write_postgres_copy

            write_postgres_copy(df, job, table=table)
            return
        except NotImplementedError:
            pass  # psycopg absent — batch path below
    elif dialect in ("mysql", "mariadb"):
        try:
            from replicadb_spark.sinks.mysql_load import write_mysql_load

            write_mysql_load(df, job, table=table)
            return
        except NotImplementedError:
            pass  # pymysql absent — batch path below
    write_jdbc(df, job, table=table, mode="append")


def run_jdbc_mode(spark: SparkSession, job: ReplicaJob, df: DataFrame) -> None:
    """Dispatch M1/M2/M3 against a JDBC sink."""
    from replicadb_spark.sinks.jdbc import write_jdbc

    dialect = dialects.dialect_from_url(job.sink_connect)
    if job.mode == "complete":
        if not job.sink_truncate:
            # sink-disable-truncate (SqlManager.java:494-496): keep the
            # existing rows and APPEND. Spark's overwrite-without-
            # truncate would DROP and recreate the table — data and DDL
            # loss the reference's semantics never allow.
            _bulk_append(spark, job, df, job.sink_table)
            return
        if dialect == "postgresql":
            # reference M1 on postgres: TRUNCATE, then COPY into the sink
            # table itself (PostgresqlManager.java:60-63)
            execute_sql(
                spark, job.sink_connect,
                [dialects.truncate_sql(dialect, job.sink_table)],
                user=job.sink_user, password=job.sink_password,
            )
            _bulk_append(spark, job, df, job.sink_table)
            return
        write_jdbc(df, job, mode="overwrite", truncate=True)
        return

    # staging name = <sink table or user alias> + repdbNN; the alias
    # exists for engines whose identifier length limit the combined
    # name would exceed (ConnManager.java:157-162)
    base = job.sink_staging_table_alias or (
        job.sink_table.rsplit(".", 1)[-1] if job.sink_table else None
    )
    staging = job.sink_staging_table or dialects.staging_table_name(
        hash(job.sink_table) & 0xFFFF, job.sink_staging_schema, base
    )
    auto_staging = job.sink_staging_table is None
    run = lambda sqls, txn=False: execute_sql(  # noqa: E731
        spark, job.sink_connect, sqls, user=job.sink_user,
        password=job.sink_password, transactional=txn,
    )
    if auto_staging:
        run([dialects.create_staging_sql(dialect, staging, job.sink_table)])
    try:
        _bulk_append(spark, job, df, staging)
        cols = job.sink_column_list or df.columns
        # T12: quote column/PK names in generated SQL when asked — the
        # reference wraps metadata-sourced names in double quotes
        # (ConnManager.java:195-207, SqlManager.java:325-345); table
        # names stay unquoted like the reference's escapeTableName
        quote = tp.quote_identifier if job.quoted_identifiers else (lambda c: c)
        if job.mode == "complete-atomic":
            run(
                dialects.atomic_swap_sql(
                    dialect, job.sink_table, staging, [quote(c) for c in cols]
                ),
                txn=True,
            )
        else:  # incremental
            pks = sink_primary_keys(spark, job)
            if not pks:
                raise ValueError(f"incremental mode needs primary keys on {job.sink_table}")
            # metadata may report PKs in a different case than the frame's
            # columns (Derby/Oracle upper-case); unquoted SQL identifiers
            # are case-insensitive, so align to the column list's spelling
            # (the reference's case-insensitive retry, SqlManager.java:282-318)
            colmap = {c.lower(): c for c in cols}
            pks = [colmap.get(p.lower(), p) for p in pks]
            spec = dialects.MergeSpec(
                job.sink_table, staging,
                [quote(c) for c in cols], [quote(p) for p in pks],
            )
            run([dialects.merge_sql(dialect, spec)])
    finally:
        if auto_staging:
            run([dialects.drop_staging_sql(staging)])


def run_file_mode(spark: SparkSession, job: ReplicaJob, df: DataFrame, *,
                  path: str, fmt: str, pk_columns: list[str] | None = None,
                  **write_opts) -> None:
    """File-sink modes. complete/complete-atomic = overwrite (Spark's
    job-commit protocol already gives all-or-nothing visibility, which is
    strictly stronger than the reference's temp-file merge K11/K12);
    incremental = read-existing → upsert → rewrite.
    """
    from replicadb_spark.sinks.files import swap_dir, write_file
    from replicadb_spark.sources.files import read_or_none

    if job.mode in ("complete", "complete-atomic"):
        write_file(df, path, fmt, mode="overwrite", **write_opts)
        return
    # incremental: only a genuinely absent sink means "first run" (→ plain
    # append); an unreadable/corrupt sink fails the job inside
    # read_or_none instead of silently skipping the PK merge
    existing = read_or_none(spark, path, fmt) if fmt != "csv" else None
    if existing is None or not pk_columns:
        write_file(df, path, fmt, mode="append", **write_opts)
        return
    # Crash-safe merge: the merged plan READS `path`, so writing back to
    # `path` directly races the overwrite against lazy/recomputed reads
    # (cache eviction mid-write would recompute from the half-overwritten
    # input → data loss). Instead the merge is fully materialized at a
    # sibling temp path first, then swapped in by sinks.files.swap_dir's
    # rename-aside, which leaves at least one complete copy on disk under
    # a discoverable name at any crash point.
    merged = upsert_dataframe(existing, df, pk_columns)
    tmp = path.rstrip("/") + ".__replicadb_tmp__"
    write_file(merged, tmp, fmt, mode="overwrite", **write_opts)
    swap_dir(spark, path, tmp, path.rstrip("/") + ".__replicadb_old__")
