"""Snapshot table (operators/snapshot_table): atomic commits, time
travel, manifest data skipping, GC."""

import os

import pytest

from pyspark.sql import functions as F

from replicadb_spark.operators.snapshot_table import (
    current_snapshot,
    snapshot_commit,
    snapshot_expire,
    snapshot_history,
    snapshot_manifest,
    snapshot_read,
)

SCHEMA = "id long, v long"


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    )


def test_append_commits_time_travel_and_history(spark, tmp_path):
    path = str(tmp_path / "tbl")
    s1 = snapshot_commit(_batch(spark, 0, 100), path, stat_columns=["id"])
    s2 = snapshot_commit(_batch(spark, 100, 200), path, stat_columns=["id"])
    s3 = snapshot_commit(_batch(spark, 200, 300), path, stat_columns=["id"])
    assert (s1, s2, s3) == (1, 2, 3)
    assert current_snapshot(path) == 3
    # current sees everything
    assert snapshot_read(spark, path).count() == 300
    # time travel: snapshot 1 is the first batch only, forever
    old = snapshot_read(spark, path, snapshot_id=1)
    assert old.count() == 100
    assert old.agg(F.max("id")).first()[0] == 99
    h = {r["snapshot_id"]: (r["parent_id"], r["operation"])
         for r in snapshot_history(spark, path).collect()}
    assert h == {1: (None, "append"), 2: (1, "append"), 3: (2, "append")}


def test_overwrite_replaces_but_keeps_old_readable(spark, tmp_path):
    path = str(tmp_path / "tbl")
    snapshot_commit(_batch(spark, 0, 100), path)
    snapshot_commit(_batch(spark, 500, 510), path, mode="overwrite")
    assert snapshot_read(spark, path).count() == 10
    assert snapshot_read(spark, path, snapshot_id=1).count() == 100


def test_manifest_pruning_skips_files(spark, tmp_path):
    from replicadb_spark.operators.manifest import prune_files

    path = str(tmp_path / "tbl")
    # range-partitioned write → files with disjoint id ranges
    df = _batch(spark, 0, 10_000).repartitionByRange(8, "id")
    snapshot_commit(df, path, stat_columns=["id"])
    m = snapshot_manifest(spark, path)
    all_files = m.select("file").distinct().count()
    pruned = prune_files(m, "id", 0.0, 100.0)
    assert len(pruned) < all_files
    got = snapshot_read(spark, path, prune=("id", 0.0, 100.0)).where(
        (F.col("id") >= 0) & (F.col("id") <= 100)
    )
    assert got.count() == 101  # pruning never loses matching rows


def test_crash_orphans_invisible_and_expire_gc(spark, tmp_path):
    path = str(tmp_path / "tbl")
    snapshot_commit(_batch(spark, 0, 100), path)
    snapshot_commit(_batch(spark, 100, 200), path)
    # simulate a crashed commit: data files exist, record never published
    zombie = os.path.join(path, "data", "snap-000099")
    _batch(spark, 900, 950).write.mode("overwrite").parquet(zombie)
    assert current_snapshot(path) == 2
    assert snapshot_read(spark, path).count() == 200  # zombie invisible

    snapshot_commit(_batch(spark, 0, 50), path, mode="overwrite")
    stats = snapshot_expire(spark, path, keep_last=1)
    assert stats["kept"] == [3]
    assert stats["expired"] == [1, 2]
    assert stats["data_files_removed"] > 0
    # survivor intact, expired id raises by name, zombie dir gone
    assert snapshot_read(spark, path).count() == 50
    with pytest.raises(ValueError, match="expired|not found"):
        snapshot_read(spark, path, snapshot_id=1)
    assert not os.path.isdir(zombie)


def test_missing_tip_manifest_raises(spark, tmp_path):
    """A record whose manifest is gone (an expire that raced a writer
    deleted it in flight) is an unreadable tip, never an empty table:
    reading an empty manifest would let the next commit publish one
    without the table's data, which a later expire would then delete."""
    from replicadb_spark.fs import TableFS
    from replicadb_spark.operators.snapshot_table import (
        _read_record,
        _record_manifest,
        snapshot_upsert,
    )

    path = str(tmp_path / "tbl")
    snapshot_commit(_batch(spark, 0, 10), path, stat_columns=["id"])
    tip = snapshot_commit(_batch(spark, 10, 20), path, stat_columns=["id"])
    fs = TableFS(spark, path)
    fs.delete(_record_manifest(path, _read_record(fs, path, tip)), recursive=True)
    with pytest.raises(FileNotFoundError, match="manifest"):
        snapshot_read(spark, path)
    with pytest.raises(FileNotFoundError, match="manifest"):
        snapshot_commit(_batch(spark, 20, 30), path, mode="append")
    with pytest.raises(FileNotFoundError, match="manifest"):
        snapshot_upsert(
            spark, path, _batch(spark, 0, 5), pk_columns=["id"],
            prune_column="id",
        )
    assert current_snapshot(path) == tip  # nothing was published
    assert snapshot_read(spark, path, snapshot_id=1).count() == 10


def test_manifest_listing_skips_hidden_names_keeps_underscore_partitions(
    spark, tmp_path, monkeypatch,
):
    """``list_parquet`` follows Spark's hidden-name rule: ``.`` names and
    ``_`` names without ``=`` are skipped, an ``_dt=…`` partition
    directory is data. Threaded footer reads (the remote-filesystem
    path) give the same rows, in the same order, as sequential ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators import manifest as mf

    root = tmp_path / "d"
    data = {
        "part-0.parquet": [1, 2],
        "_dt=2024-01-01/part-0.parquet": [3],
        "k=1/_dt=2024-01-02/part-0.parquet": [4, 5],
        "_temporary/0/part-0.parquet": [98],
        ".hidden/part-0.parquet": [99],
        "._x.parquet": [99],
    }
    for rel, ids in data.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"id": ids}), str(root / rel))
    (root / "_SUCCESS").write_bytes(b"")
    want = sorted(
        f"{root}/{r}" for r in
        ("part-0.parquet", "_dt=2024-01-01/part-0.parquet",
         "k=1/_dt=2024-01-02/part-0.parquet")
    )
    assert mf.list_parquet(str(root)) == want
    fm = mf.file_manifest(spark, str(root), ["id"])
    assert sorted(r["file"] for r in fm.collect()) == want

    seq = mf.read_footers(want, ["id"])
    assert dict(zip(seq.column("file").to_pylist(),
                    seq.column("max_s").to_pylist())) == {
        want[0]: "3", want[1]: "5", want[2]: "2",
    }
    assert mf._footer_threads(want) == 1  # local files: sequential
    monkeypatch.setattr(mf, "_footer_threads", lambda files: 3)
    assert mf.read_footers(want, ["id"]).equals(seq)


def test_merge_on_key_commits_release_their_staging_checkpoint(
    spark, tmp_path,
):
    """The upsert's and merge's checkpointed staging batch is freed when
    the commit returns — a long stream must not keep one batch's blocks
    per commit until JVM GC gets to them."""
    from replicadb_spark.operators.snapshot_table import (
        snapshot_merge,
        snapshot_upsert,
    )

    def persisted():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    path = str(tmp_path / "tbl")
    snapshot_commit(_batch(spark, 0, 20), path, stat_columns=["id"])
    batch = spark.createDataFrame(
        [(1, 7, 1), (1, 8, 2), (30, 9, 1)], "id long, v long, seq long"
    )
    before = persisted()
    snapshot_upsert(
        spark, path, batch, pk_columns=["id"], prune_column="id",
        order_column="seq",
    )
    snapshot_merge(
        spark, path, batch, pk_columns=["id"], prune_column="id",
        order_column="seq",
    )
    assert persisted() <= before
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert (got[1], got[30], len(got)) == (8, 9, 21)


def test_empty_commit_is_legal(spark, tmp_path):
    path = str(tmp_path / "tbl")
    snapshot_commit(_batch(spark, 0, 10), path)
    empty = spark.createDataFrame([], SCHEMA)
    sid = snapshot_commit(empty, path)  # append no-op
    assert snapshot_read(spark, path, snapshot_id=sid).count() == 10
    sid2 = snapshot_commit(empty, path, mode="overwrite")
    out = snapshot_read(spark, path, snapshot_id=sid2, schema=SCHEMA)
    assert out.count() == 0


def test_snapshot_delete_cow_rewrites_only_victims(spark, tmp_path):
    from replicadb_spark.operators.snapshot_table import (
        snapshot_delete,
        snapshot_manifest,
        snapshot_record,
    )

    path = str(tmp_path / "tbl")
    df = _batch(spark, 0, 10_000).repartitionByRange(8, "id")
    snapshot_commit(df, path, stat_columns=["id"])
    m1_files = {
        r["file"]
        for r in snapshot_manifest(spark, path).select("file").distinct().collect()
    }
    sid = snapshot_delete(
        spark, path, F.col("id") < 500, prune=("id", 0.0, 499.0)
    )
    rec = snapshot_record(path, sid)
    assert rec["operation"] == "delete"
    assert 0 < rec["victim_files"] < len(m1_files)
    # deleted rows gone; everything else intact
    cur = snapshot_read(spark, path)
    assert cur.count() == 9_500
    assert cur.agg(F.min("id")).first()[0] == 500
    # untouched files carry over into the new manifest verbatim
    m2_files = {
        r["file"]
        for r in snapshot_manifest(spark, path).select("file").distinct().collect()
    }
    assert len(m1_files & m2_files) == len(m1_files) - rec["victim_files"]
    # time travel still shows the pre-delete table
    assert snapshot_read(spark, path, snapshot_id=1).count() == 10_000


def test_snapshot_compact_merges_small_files_identically(spark, tmp_path):
    from replicadb_spark.operators.snapshot_table import (
        snapshot_compact,
        snapshot_manifest,
        snapshot_record,
    )

    path = str(tmp_path / "tbl")
    # 5 tiny commits -> >= 5 small files
    for i in range(5):
        snapshot_commit(
            _batch(spark, i * 100, (i + 1) * 100).coalesce(1), path,
            stat_columns=["id"],
        )
    n_before = snapshot_manifest(spark, path).select("file").distinct().count()
    before = sorted(tuple(r) for r in snapshot_read(spark, path).collect())
    sid = snapshot_compact(spark, path, small_mb=16, target_files=1)
    assert snapshot_record(path, sid)["operation"] == "compact"
    n_after = snapshot_manifest(spark, path).select("file").distinct().count()
    assert n_after < n_before
    after = sorted(tuple(r) for r in snapshot_read(spark, path).collect())
    assert after == before
    # compacting an already-compact table is a no-op commit-wise
    assert snapshot_compact(spark, path, small_mb=16, target_files=1) == sid


def test_snapshot_upsert_merge_semantics_and_pruned_victims(spark, tmp_path):
    from replicadb_spark.operators.snapshot_table import (
        snapshot_manifest,
        snapshot_record,
        snapshot_upsert,
    )

    path = str(tmp_path / "tbl")
    base = _batch(spark, 0, 10_000).repartitionByRange(8, "id")
    snapshot_commit(base, path, stat_columns=["id"])
    n_files_before = (
        snapshot_manifest(spark, path).select("file").distinct().count()
    )
    # updates confined to a narrow id range + one insert; a multi-update
    # key (42) must collapse to its newest row by seq
    staging = spark.createDataFrame(
        [(42, 1, 1), (42, 2, 2), (43, 3, 1), (20_000, 4, 1)],
        "id long, v long, seq long",
    ).select("id", "v", F.col("seq"))
    sid = snapshot_upsert(
        spark, path,
        staging, pk_columns=["id"], prune_column="id", order_column="seq",
    )
    rec = snapshot_record(path, sid)
    assert rec["operation"] == "upsert"
    assert 0 < rec["victim_files"] < n_files_before
    cur = snapshot_read(spark, path)
    got = {r["id"]: r["v"] for r in cur.where(
        F.col("id").isin(42, 43, 20_000, 41, 44)
    ).collect()}
    assert got[42] == 2 and got[43] == 3 and got[20_000] == 4
    assert got[41] == 410 and got[44] == 440  # neighbors untouched
    assert cur.count() == 10_001  # one true insert
    # the staging's extra seq column was dropped at the table boundary
    assert cur.columns == ["id", "v"]
    # pruning on a non-PK column is refused loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutable"):
        snapshot_upsert(
            spark, path, staging, pk_columns=["id"], prune_column="v"
        )


def test_zorder_compact_tightens_pruning_both_columns(spark, tmp_path):
    """snapshot_zorder_compact: identical contents, strictly fewer
    files scanned for a box predicate on EITHER clustered column —
    Delta OPTIMIZE ZORDER BY semantics as one snapshot commit."""
    from replicadb_spark.operators.snapshot_table import (
        snapshot_changes,
        snapshot_record,
        snapshot_zorder_compact,
    )

    path = "file://" + str(tmp_path / "zt")
    # rows shuffled so every initial file spans the full (x, y) domain:
    # any range predicate must scan ALL files before clustering
    df = (
        spark.range(0, 40_000)
        .select(
            F.col("id"),
            (F.col("id") % 200).alias("x"),
            ((F.col("id") * 7919) % 200).alias("y"),
        )
        .repartition(16)  # round-robin: all files cover all ranges
    )
    parent = snapshot_commit(df, path, stat_columns=["x", "y"])
    m0 = snapshot_manifest(spark, path, parent)
    from replicadb_spark.operators.manifest import prune_files

    n_files = m0.select("file").distinct().count()
    assert n_files >= 8
    pre_x = len(prune_files(m0, "x", 10.0, 20.0))
    pre_y = len(prune_files(m0, "y", 10.0, 20.0))
    assert pre_x == n_files and pre_y == n_files  # stripe layout: no skip

    sid = snapshot_zorder_compact(spark, path, "x", "y", target_files=16)
    rec = snapshot_record(path, sid)
    assert rec["operation"] == "zorder" and rec["zorder_by"] == ["x", "y"]
    m1 = snapshot_manifest(spark, path, sid)
    post_x = len(prune_files(m1, "x", 10.0, 20.0))
    post_y = len(prune_files(m1, "y", 10.0, 20.0))
    assert post_x < pre_x and post_y < pre_y  # both dims now skip
    # pruned scan still returns exactly the matching rows
    got = (
        snapshot_read(spark, path, prune=("x", 10.0, 20.0))
        .where("x between 10 and 20")
        .count()
    )
    want = df.where("x between 10 and 20").count()
    assert got == want
    # identical contents: the layout commit's changelog is empty and
    # the parent still reads the old layout
    assert snapshot_changes(
        spark, path, pk_columns=["id"], from_snapshot=parent, to_snapshot=sid
    ).count() == 0
    assert snapshot_read(spark, path, snapshot_id=parent).count() == 40_000


def test_metadata_agg_answers_from_manifest_only(spark, tmp_path):
    """count/min/max from the manifest alone — exact across commits and
    COW rewrites, null min/max (never wrong) when stats are missing."""
    from replicadb_spark.operators.snapshot_table import (
        snapshot_delete,
        snapshot_metadata_agg,
    )

    path = str(tmp_path / "ma")
    snapshot_commit(_batch(spark, 0, 500), path, stat_columns=["id"])
    snapshot_commit(_batch(spark, 500, 800), path, stat_columns=["id"])
    r = snapshot_metadata_agg(spark, path, "id").first()
    assert (r["count_rows"], r["min_value"], r["max_value"]) == (800, 0.0, 799.0)
    # a COW delete rewrites victims; metadata stays exact
    snapshot_delete(spark, path, F.col("id") < 10, prune=("id", 0.0, 9.0))
    r2 = snapshot_metadata_agg(spark, path, "id").first()
    assert (r2["count_rows"], r2["min_value"], r2["max_value"]) == (790, 10.0, 799.0)
    # time travel aggregates the OLD manifest
    r3 = snapshot_metadata_agg(spark, path, "id", snapshot_id=1).first()
    assert (r3["count_rows"], r3["min_value"], r3["max_value"]) == (500, 0.0, 499.0)
    # column without manifest stats: count exact, min/max null
    r4 = snapshot_metadata_agg(spark, path, "nope").first()
    assert r4["count_rows"] == 790
    assert r4["min_value"] is None and r4["max_value"] is None
    # physical claim: every data file can vanish and the answer stands
    # (nothing but the manifest is read)
    import shutil

    shutil.rmtree(str(tmp_path / "ma" / "data"))
    r5 = snapshot_metadata_agg(spark, path, "id").first()
    assert (r5["count_rows"], r5["min_value"], r5["max_value"]) == (790, 10.0, 799.0)


def test_null_count_stats_and_is_not_null_pruning(spark, tmp_path):
    """Manifest n_nulls: exact per-file null counts, rows emitted for
    entirely-null columns (null min/max), IS-NOT-NULL pruning skips
    provably-all-null files and keeps everything unknown — including
    legacy 5-column manifests read through the widened schema, and
    commits on a table whose tip manifest is such a legacy multi-part
    Spark write."""
    from replicadb_spark.fs import TableFS
    from replicadb_spark.operators.manifest import (
        MANIFEST_DDL,
        file_manifest,
        list_parquet,
        prune_files,
        prune_files_not_null,
        read_manifest,
    )
    from replicadb_spark.operators.snapshot_table import (
        _read_record,
        _record_manifest,
        snapshot_manifest,
        snapshot_metadata_agg,
        snapshot_upsert,
    )

    path = str(tmp_path / "nn")
    # snap 1: label entirely null; snap 2: label partially null
    snapshot_commit(
        spark.createDataFrame(
            [(i, None) for i in range(10)], "id long, label string"
        ),
        path, stat_columns=["id", "label"],
    )
    snapshot_commit(
        spark.createDataFrame(
            [(10, "x"), (11, None), (12, "y")], "id long, label string"
        ).coalesce(1),
        path, stat_columns=["id", "label"],
    )
    m = snapshot_manifest(spark, path)
    rows = {(r["file"], r["column"]): r for r in m.collect()}
    files = sorted({f for f, _ in rows})
    snap1 = [f for f in files if "snap-000001" in f]
    snap2 = [f for f in files if "snap-000002" in f]
    assert snap1 and len(snap2) == 1
    # all-null column: row present, null min/max, n_nulls == n_rows
    for f in snap1:
        r = rows[(f, "label")]
        assert r["min_s"] is None and r["n_nulls"] == r["n_rows"]
    r2 = rows[(snap2[0], "label")]
    assert r2["n_nulls"] == 1 and r2["min_s"] == "x" and r2["max_s"] == "y"

    # IS NOT NULL pruning: only snap 2's file may hold non-null labels
    kept = prune_files_not_null(m, "label")
    assert kept == snap2
    got = snapshot_read(spark, path, prune_not_null="label").where(
        "label is not null"
    )
    assert {r["label"] for r in got.collect()} == {"x", "y"}
    # range pruning still keeps all-null-stat files conservatively
    assert set(prune_files(m, "label", 0.0, 1.0)) == set(files)

    # metadata agg: exact null_count; all-null files don't poison min/max
    r = snapshot_metadata_agg(spark, path, "label").first()
    assert r["count_rows"] == 13 and r["null_count"] == 11
    ra = snapshot_metadata_agg(spark, path, "id").first()
    assert (ra["min_value"], ra["max_value"], ra["null_count"]) == (0.0, 12.0, 0)

    # legacy manifest (no n_nulls column) reads back conservatively
    legacy = m.select("file", "n_rows", "column", "min_s", "max_s")
    legacy_path = str(tmp_path / "legacy_m")
    legacy.write.parquet(legacy_path)
    m_old = spark.read.schema(MANIFEST_DDL).parquet(legacy_path)
    assert set(prune_files_not_null(m_old, "label")) == set(files)  # keep all
    # ... and so does the raw 5-column frame, which has no n_nulls at all
    raw_old = spark.read.parquet(legacy_path)
    assert set(prune_files_not_null(raw_old, "label")) == set(files)
    assert prune_files(raw_old, "id", 0.0, 99.0) == prune_files(
        m_old, "id", 0.0, 99.0
    )

    # file_manifest over a plain directory agrees with the snapshot view
    fm = file_manifest(spark, path + "/data", ["label"])
    assert fm.where(F.col("n_nulls").isNull()).count() == 0

    # the tip manifest rewritten the pre-n_nulls way: Spark, multi-part,
    # 5 columns. An append and an upsert must commit on top of it.
    fs = TableFS(spark, path)

    def manifest_of(sid):
        return _record_manifest(path, _read_record(fs, path, sid))

    tip_m = manifest_of(2)
    fs.delete(tip_m, recursive=True)
    spark.read.parquet(legacy_path).repartition(3).write.parquet(tip_m)
    assert len(list_parquet(tip_m)) > 1
    assert "n_nulls" not in spark.read.parquet(tip_m).columns
    snapshot_commit(
        spark.createDataFrame([(13, "z")], "id long, label string"),
        path, stat_columns=["id", "label"],
    )
    s4 = snapshot_upsert(
        spark, path,
        spark.createDataFrame([(0, "a"), (14, "w")], "id long, label string"),
        pk_columns=["id"], prune_column="id",
    )
    want = {i: None for i in range(10)}
    want.update({0: "a", 10: "x", 11: None, 12: "y", 13: "z", 14: "w"})
    got = {r["id"]: r["label"] for r in snapshot_read(spark, path).collect()}
    assert got == want
    # the new tip manifest is one driver-written file, read back the same
    # by the Spark view and the Arrow reader; legacy rows keep their
    # unknown null counts (never excludable)
    new_m = manifest_of(s4)
    assert len(list_parquet(new_m)) == 1
    view = snapshot_manifest(spark, path)
    arrow = read_manifest(new_m)
    key = ("file", "column", "n_rows", "min_s", "max_s", "n_nulls")

    def rows(rs):
        return sorted(tuple(str(r[k]) for k in key) for r in rs)

    assert rows(view.collect()) == rows(arrow.to_pylist())
    assert view.where(F.col("n_nulls").isNull()).count() > 0
    for lo, hi in ((0.0, 5.0), (11.0, 11.0), (13.0, 99.0)):
        assert prune_files(view, "id", lo, hi) == prune_files(arrow, "id", lo, hi)
    assert prune_files_not_null(view, "label") == prune_files_not_null(
        arrow, "label"
    )
    kept = prune_files(view, "id", 13.0, 14.0)
    assert {
        r["id"] for r in snapshot_read(spark, path, prune=("id", 13.0, 14.0))
        .where("id >= 13").collect()
    } == {13, 14}
    assert len(kept) < len(prune_files(view, "id", 0.0, 99.0))
