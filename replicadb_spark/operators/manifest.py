"""File-skipping manifest: per-file column statistics.

Parquet already stores min/max per row group; what a 100 TB table needs
is those stats OUTSIDE the files, so a planner (or a job submitting
loop) can select the files worth scanning without opening any of them —
the core mechanism of lakehouse table formats' data skipping.

A manifest is driver metadata: one row per data file per stat column
(``file, n_rows, column, min_s, max_s, n_nulls``), a few KB per commit.
So it is built, read, filtered, unioned and written on the DRIVER as one
pyarrow table — no Spark job touches a manifest on a snapshot commit.
Building one is one recursive listing of the data directory plus one
footer read per file (parquet metadata only, no row data): cost is
O(files), not O(bytes). Footers of 1,000 local 100-row files take
0.046 s on a 4-core VM (4,000: 0.22-0.31 s). On a remote filesystem
8 driver threads overlap the footer GETs; object-store latency itself
is unverified (with a simulated 10 ms per open, 400 footers took 4.6 s
sequentially and 0.64 s on 8 threads). A commit holds the table's
manifest on the driver: O(files × stat columns) rows.

Pairs with ``ordering.zorder_layout``: cluster first, manifest once,
then ``prune_files`` turns a box predicate into the small file subset
whose stats intersect it. Correctness contract: pruning never drops a
file that could contain a matching row (stats are conservative), so
scan(pruned) ∩ predicate == scan(all) ∩ predicate — tested.

Every byte goes through ``replicadb_spark.fs.pyarrow_fs_for``, so the
manifest works on any URI pyarrow can open, not just the driver's local
disk; stored manifests stay plain parquet that ``spark.read`` reads.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from replicadb_spark.fs import pyarrow_fs_for, pyarrow_open

# n_nulls arrived in round 10; manifests written before then read back
# with a null n_nulls — every consumer treats unknown as not-excludable
MANIFEST_DDL = (
    "file string, n_rows long, column string, "
    "min_s string, max_s string, n_nulls long"
)
MANIFEST_SCHEMA = pa.schema([
    ("file", pa.string()), ("n_rows", pa.int64()), ("column", pa.string()),
    ("min_s", pa.string()), ("max_s", pa.string()), ("n_nulls", pa.int64()),
])


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def list_parquet(path: str) -> "list[str]":
    """Every visible parquet file under ``path`` at any depth (part
    files, ``bkt=K/`` and partition subdirectories), sorted, in the
    caller's own prefix form — one recursive listing. Missing → [].
    Hidden names are skipped by Spark's own reader rule: a ``.`` prefix
    (checksums), or a ``_`` prefix without ``=`` (``_SUCCESS``,
    ``_temporary/``) — a ``_dt=2024-01-01/`` partition directory is
    data and is kept."""
    import pyarrow.fs as pafs

    pfs, local = pyarrow_fs_for(path)
    local = local.rstrip("/")
    sel = pafs.FileSelector(local, recursive=True, allow_not_found=True)
    root = path.rstrip("/")
    out = []
    for info in pfs.get_file_info(sel):
        rel = info.path[len(local):].lstrip("/")
        if (
            info.is_file
            and rel.endswith(".parquet")
            and not any(_hidden(p) for p in rel.split("/"))
        ):
            out.append(f"{root}/{rel}")
    return sorted(out)


# footer reads on a remote filesystem are one small GET each: a few
# driver threads overlap their latency (pyarrow releases the GIL while
# it waits). Local footers are read sequentially — threads made 4,000
# local footer reads 4-6x slower on a 4-core VM (GIL churn over
# sub-millisecond calls).
_FOOTER_THREADS = 8


def _footer_threads(files: "list[str]") -> int:
    """Driver threads for reading ``files``' footers: 1 on the local
    filesystem, :data:`_FOOTER_THREADS` on any other."""
    import pyarrow.fs as pafs

    if not files:
        return 1
    if isinstance(pyarrow_fs_for(files[0])[0], pafs.LocalFileSystem):
        return 1
    return min(_FOOTER_THREADS, len(files))


def _footer_rows(fname: str, columns: "list[str] | None") -> "list[tuple]":
    """One file's manifest rows, in :data:`MANIFEST_SCHEMA` order."""
    with pyarrow_open(fname) as f:
        md = pq.ParquetFile(f).metadata
    lo: dict = {}
    hi: dict = {}
    nul: dict = {}  # name -> exact count, or None once unknown
    bad_mm: set = set()  # min/max not covering every row group
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        for ci in range(row.num_columns):
            col = row.column(ci)
            name = col.path_in_schema
            if columns is not None and name not in columns:
                continue
            st = col.statistics
            if st is None:
                nul[name] = None
                bad_mm.add(name)
                continue
            if st.null_count is None or nul.get(name, 0) is None:
                nul[name] = None
            else:
                nul[name] = nul.get(name, 0) + st.null_count
            if not st.has_min_max:
                # all-null row group: contributes no values, so
                # existing min/max still cover the file
                if st.null_count != row.num_rows:
                    bad_mm.add(name)
                continue
            lo[name] = min(lo[name], st.min) if name in lo else st.min
            hi[name] = max(hi[name], st.max) if name in hi else st.max
    out = []
    for name in sorted(set(lo) | set(nul)):
        ok = name in lo and name not in bad_mm
        out.append((
            fname, md.num_rows, name,
            str(lo[name]) if ok else None,
            str(hi[name]) if ok else None,
            nul.get(name),
        ))
    return out


def read_footers(
    files: "list[str]", columns: "list[str] | None" = None
) -> pa.Table:
    """The manifest rows of ``files`` from their parquet footers, read
    on the driver (:func:`_footer_threads`), in ``files`` order. min/max
    are stringified (heterogeneous column types stack in one schema;
    numeric compare re-casts on use); ``n_nulls`` is the column's exact
    null count when every row group records one, else null (unknown ≠
    zero). A column that is entirely null in a file still gets a row
    (null min/max, n_nulls == n_rows) — that row is what IS-NOT-NULL
    pruning skips on."""
    from concurrent.futures import ThreadPoolExecutor

    def read(f: str) -> "list[tuple]":
        return _footer_rows(f, columns)

    threads = _footer_threads(files)
    if threads == 1:
        per_file = [read(f) for f in files]
    else:
        with ThreadPoolExecutor(threads) as pool:
            per_file = list(pool.map(read, files))
    rows = [r for rs in per_file for r in rs]
    cols = list(zip(*rows)) or [()] * len(MANIFEST_SCHEMA)
    return pa.table(
        [pa.array(c, f.type) for c, f in zip(cols, MANIFEST_SCHEMA)],
        schema=MANIFEST_SCHEMA,
    )


def _conform(t: pa.Table) -> pa.Table:
    """``t`` in the 6-column manifest layout: legacy 5-column manifests
    gain a null ``n_nulls``, Spark-written types cast to the schema's."""
    return pa.table(
        [
            t.column(f.name).cast(f.type)
            if f.name in t.column_names
            else pa.nulls(t.num_rows, f.type)
            for f in MANIFEST_SCHEMA
        ],
        schema=MANIFEST_SCHEMA,
    )


def read_manifest(mpath: str) -> pa.Table:
    """A stored manifest directory as one Arrow table: the single part
    file :func:`write_manifest` stores, or a legacy Spark write of
    several part files (including the pre-``n_nulls`` 5-column layout).

    Raises when ``mpath`` is missing or holds no part file: every
    manifest ever written holds at least one (Spark writes one even for
    an empty frame), so an empty listing means the manifest is gone — a
    record published after an expire deleted its in-flight manifest —
    and reading it as an empty table would let the next commit publish
    a manifest without the table's data, which expire then deletes."""
    parts = list_parquet(mpath)
    if not parts:
        raise FileNotFoundError(
            f"manifest {mpath} is missing or holds no part file"
        )
    tables = []
    for p in parts:
        with pyarrow_open(p) as f:
            tables.append(_conform(pq.ParquetFile(f).read()))
    return pa.concat_tables(tables)


def write_manifest(t: pa.Table, mpath: str) -> None:
    """Store ``t`` as the manifest directory ``mpath`` holding one part
    file — the layout ``spark.read.parquet(mpath)`` has always read."""
    pfs, local = pyarrow_fs_for(mpath)
    pfs.create_dir(local, recursive=True)
    part = f"{local.rstrip('/')}/part-00000.parquet"
    with pfs.open_output_stream(part) as out:
        pq.write_table(t, out)


def drop_files(t: pa.Table, files: "list[str] | set[str]") -> pa.Table:
    """``t`` without the rows of ``files`` (a copy-on-write's victims)."""
    if not files:
        return t
    gone = pc.is_in(
        t.column("file"), value_set=pa.array(sorted(files), pa.string())
    )
    return t.filter(pc.invert(gone))


def manifest_files(t: pa.Table) -> "list[str]":
    """The distinct data files a manifest makes visible, sorted."""
    return sorted(pc.unique(t.column("file")).to_pylist())


def manifest_columns(t: pa.Table) -> "list[str] | None":
    """The stat columns a manifest carries (None when it has none — the
    ``file_manifest`` spelling of "every column")."""
    cols = [
        c for c in pc.unique(t.column("column")).to_pylist() if c is not None
    ]
    return sorted(cols) or None


def file_manifest(
    spark: SparkSession,
    path: str,
    columns: "list[str] | None" = None,
) -> DataFrame:
    """(file, n_rows, column, min_s, max_s, n_nulls) for every parquet
    part-file under ``path``, as a DataFrame over the driver-built Arrow
    table (see :func:`read_footers` for the column semantics). Raises
    when ``path`` holds no parquet files."""
    files = list_parquet(path)
    if not files:
        raise ValueError(f"no parquet files under {path}")
    return spark.createDataFrame(read_footers(files, columns), MANIFEST_DDL)


def _as_table(manifest: "DataFrame | pa.Table", column: str) -> pa.Table:
    """Pruning on ``column`` runs on a driver-side table. A DataFrame
    manifest (e.g. ``snapshot_manifest``'s view) is first narrowed by
    Spark to ``column``'s rows plus one stat-less row per file, so the
    driver collects O(files) rows — the order of the file list pruning
    returns anyway — not O(files × stat columns)."""
    if isinstance(manifest, pa.Table):
        return manifest
    from pyspark.sql import functions as F

    hit = F.col("column") == column
    narrow = manifest.select(
        "file",
        "n_rows",
        *[
            F.when(hit, F.col(c)).alias(c)
            for c in ("column", "min_s", "max_s", "n_nulls")
            if c in manifest.columns  # legacy: no n_nulls (_conform)
        ],
    ).distinct()
    return _conform(narrow.toArrow())


def _as_double(s: "str | None") -> "float | None":
    """A stringified stat as a number, or None when it is not one (a
    string/bytes column's stats). At least as strict as Spark's
    ``try_cast(... AS double)``: digit separators, non-ASCII digits and
    NaN are unknown, so a stat Spark would not order never excludes a
    file."""
    if s is None or "_" in s or not s.isascii():
        return None
    try:
        v = float(s)
    except ValueError:
        return None
    return None if v != v else v


def stat_intervals(
    manifest: pa.Table, column: str
) -> "tuple[list[tuple[str, float, float]], list[str]]":
    """``(known, unknown)`` for ``column``: ``(file, min, max)`` for every
    file with numeric stats, and the files without (no stats row, or
    stats that do not parse) — unknown ≠ excludable, so every consumer
    keeps those files."""
    rows = manifest.filter(pc.equal(manifest.column("column"), column))
    stats = {
        f: (_as_double(lo), _as_double(hi))
        for f, lo, hi in zip(
            rows.column("file").to_pylist(),
            rows.column("min_s").to_pylist(),
            rows.column("max_s").to_pylist(),
        )
    }
    known, unknown = [], []
    for f in manifest_files(manifest):
        lo, hi = stats.get(f, (None, None))
        if lo is None or hi is None:
            unknown.append(f)
        else:
            known.append((f, lo, hi))
    return known, unknown


def prune_files(
    manifest: "DataFrame | pa.Table",
    column: str,
    lo: float,
    hi: float,
) -> list[str]:
    """Files whose [min, max] range on ``column`` intersects [lo, hi] —
    the candidate set a pruned scan reads. Conservative: a file with no
    stats row for the column is KEPT, and so is one whose stats do not
    parse as numbers (string/bytes column stringified by the manifest) —
    unknown ≠ excludable (:func:`stat_intervals`). A DataFrame
    manifest brings O(files) rows to the driver (:func:`_as_table`)."""
    known, unknown = stat_intervals(_as_table(manifest, column), column)
    keep = [f for f, mn, mx in known if mx >= lo and mn <= hi]
    return sorted(keep + unknown)


def prune_files_not_null(
    manifest: "DataFrame | pa.Table", column: str
) -> list[str]:
    """Files that may hold a NON-NULL value of ``column`` — the
    candidate set for an ``IS NOT NULL`` scan (the dominant filter of
    sparse/optional columns at 100 TB: files whose column is entirely
    null are skipped without being opened). Conservative: a file is
    dropped ONLY when its manifest row proves n_nulls == n_rows;
    missing rows, unknown null counts, and legacy manifests without
    the n_nulls column all keep the file. A DataFrame manifest brings
    O(files) rows to the driver (:func:`_as_table`)."""
    t = _as_table(manifest, column)
    rows = t.filter(pc.equal(t.column("column"), column))
    all_null = {
        f
        for f, n, nn in zip(
            rows.column("file").to_pylist(),
            rows.column("n_rows").to_pylist(),
            rows.column("n_nulls").to_pylist(),
        )
        if nn is not None and nn == n
    }
    return [f for f in manifest_files(t) if f not in all_null]
