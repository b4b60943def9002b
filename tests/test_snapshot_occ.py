"""Optimistic-concurrency commits on the snapshot table (VERDICT r10
item 4) plus the ADVICE r10 schema/GC hardening.

The interleaving harness patches the module-level ``_try_publish`` so a
REAL concurrent commit lands between a writer's manifest derivation and
its publish — exactly the window the commit-record rename guards. The
loser must re-derive against the new tip and land (appends, read-set-
intact COW ops) or refuse loudly (COW ops whose victims were rewritten
underneath them). Reference parity note: ReplicaDB delegates this
atomicity to the sink database's transaction (SqlManager.java:404-434);
this is the lakehouse-layout equivalent.
"""

import json

import pytest
from pyspark.sql import functions as F

from replicadb_spark.fs import TableFS, join
from replicadb_spark.operators import snapshot_table as snap_mod
from replicadb_spark.operators.snapshot_table import (
    ConcurrentCommitError,
    snapshot_commit,
    snapshot_delete,
    snapshot_expire,
    snapshot_history,
    snapshot_merge,
    snapshot_read,
    snapshot_schema,
    snapshot_upsert,
)


def _uri(tmp_path, name: str) -> str:
    return "file://" + str(tmp_path / name)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v long")


def _race_once(monkeypatch, concurrent):
    """Patch _try_publish so the FIRST publish attempt is preceded by a
    real concurrent commit (run unpatched), forcing the caller into its
    OCC retry path."""
    real = snap_mod._try_publish
    state = {"raced": False}

    def racy(fs, path, rec):
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(snap_mod, "_try_publish", real)
            concurrent()
            monkeypatch.setattr(snap_mod, "_try_publish", racy)
        return real(fs, path, rec)

    monkeypatch.setattr(snap_mod, "_try_publish", racy)


def test_append_retries_after_concurrent_append(spark, tmp_path, monkeypatch):
    """Two appends race: the loser re-derives its manifest union against
    the winner's tip and lands as the NEXT snapshot — no rows lost, no
    files clobbered (per-attempt uuid write locations)."""
    path = _uri(tmp_path, "occ_aa")
    snapshot_commit(_df(spark, [(1, 1)]), path, stat_columns=["id"])

    _race_once(
        monkeypatch,
        lambda: snapshot_commit(
            _df(spark, [(2, 2)]), path, stat_columns=["id"]
        ),
    )
    sid = snapshot_commit(_df(spark, [(3, 3)]), path, stat_columns=["id"])
    assert sid == 3  # bumped past the winner's id 2
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {1: 1, 2: 2, 3: 3}
    # the winner's snapshot is intact and readable on its own
    assert {r["id"] for r in
            snapshot_read(spark, path, snapshot_id=2).collect()} == {1, 2}
    hist = {r["snapshot_id"]: r["operation"]
            for r in snapshot_history(spark, path).collect()}
    assert hist == {1: "append", 2: "append", 3: "append"}


def test_cow_upsert_retries_after_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """An upsert racing a PURE APPEND passes read-set validation (its
    victims are still visible at the tip) and lands with the appended
    files flowing untouched into its manifest — the append serializes
    after the upsert."""
    path = _uri(tmp_path, "occ_ua")
    snapshot_commit(_df(spark, [(1, 1), (2, 2)]), path, stat_columns=["id"])

    _race_once(
        monkeypatch,
        lambda: snapshot_commit(
            _df(spark, [(9, 9)]), path, stat_columns=["id"]
        ),
    )
    sid = snapshot_upsert(
        spark, path, _df(spark, [(2, 22), (5, 55)]), pk_columns=["id"]
    )
    assert sid == 3
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {1: 1, 2: 22, 5: 55, 9: 9}


def test_cow_refuses_when_victims_rewritten_underneath(
    spark, tmp_path, monkeypatch
):
    """Two COW ops racing over the SAME files: the loser's rewrite is
    stale (its victims vanished from the tip's manifest) — it must
    refuse loudly, never publish."""
    path = _uri(tmp_path, "occ_dd")
    snapshot_commit(_df(spark, [(i, i) for i in range(6)]), path,
                    stat_columns=["id"])

    _race_once(
        monkeypatch,
        lambda: snapshot_delete(spark, path, F.col("id") == 0),
    )
    with pytest.raises(ConcurrentCommitError, match="refusing to publish a stale"):
        snapshot_delete(spark, path, F.col("id") == 5)
    # the winner's delete is the table tip; the loser published nothing
    got = {r["id"] for r in snapshot_read(spark, path).collect()}
    assert got == {1, 2, 3, 4, 5}
    hist = {r["snapshot_id"]: r["operation"]
            for r in snapshot_history(spark, path).collect()}
    assert hist == {1: "append", 2: "delete"}


def test_cow_refuses_when_schema_evolved_underneath(
    spark, tmp_path, monkeypatch
):
    """A COW op racing a schema EVOLUTION must not republish the old
    pin (which would silently drop the new column from the table tip)."""
    path = _uri(tmp_path, "occ_se")
    snapshot_commit(_df(spark, [(1, 1)]), path, stat_columns=["id"])

    _race_once(
        monkeypatch,
        lambda: snapshot_commit(
            spark.createDataFrame([(2, 2, "x")], "id long, v long, tag string"),
            path, stat_columns=["id"], evolve=True,
        ),
    )
    with pytest.raises(ConcurrentCommitError, match="evolved the table schema"):
        snapshot_upsert(spark, path, _df(spark, [(1, 11)]), pk_columns=["id"])
    assert snapshot_read(spark, path).columns == ["id", "v", "tag"]


def test_expire_sweeps_orphaned_loser_manifests(spark, tmp_path):
    """A crashed OCC loser's manifest (written, never referenced by any
    commit record) is unreachable — expire removes it."""
    path = _uri(tmp_path, "occ_gc")
    snapshot_commit(_df(spark, [(1, 1)]), path, stat_columns=["id"])
    fs = TableFS(spark, path)
    orphan = join(path, "manifests", "m-000002-deadbeef")
    snap_mod.snapshot_manifest(spark, path).write.parquet(orphan)
    snapshot_expire(spark, path, keep_last=1)
    assert not fs.exists(orphan)
    assert snapshot_read(spark, path).count() == 1


def test_expire_on_root_containing_data_snap_marker(spark, tmp_path):
    """ADVICE r10: a table root that itself contains '/data/snap-NNNNNN'
    must still GC — the marker split anchors on the LAST occurrence, so
    the extracted prefix is the true table root, not the root's own
    substring."""
    root = tmp_path / "data" / "snap-000777" / "tbl"
    root.parent.mkdir(parents=True)
    path = str(root)
    snapshot_commit(_df(spark, [(1, 1), (2, 2)]), path, stat_columns=["id"])
    snapshot_commit(_df(spark, [(3, 3)]), path, stat_columns=["id"])
    # crash orphan — the only legitimate GC victim
    orphan_dir = join(path, "data", "snap-000009")
    _df(spark, [(9, 9)]).write.parquet(orphan_dir)
    res = snapshot_expire(spark, path, keep_last=2)
    assert res["kept"] == [1, 2]
    assert res["data_files_removed"] >= 1
    fs = TableFS(spark, path)
    assert not fs.exists(orphan_dir)
    assert snapshot_read(spark, path).count() == 3
    assert snapshot_read(spark, path, snapshot_id=1).count() == 2


def test_nested_nullability_is_not_schema_drift(spark, tmp_path):
    """ADVICE r10: two structurally identical struct/array columns
    differing only in nested nullability flags must merge as the SAME
    type — not fall through to a spurious 'cannot reconcile'."""
    from pyspark.sql import types as T

    path = _uri(tmp_path, "occ_nn")
    s_strict = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField(
            "props",
            T.StructType([T.StructField("a", T.LongType(), False)]),
            False,
        ),
        T.StructField("xs", T.ArrayType(T.LongType(), False), False),
    ])
    s_loose = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField(
            "props",
            T.StructType([T.StructField("a", T.LongType(), True)]),
            True,
        ),
        T.StructField("xs", T.ArrayType(T.LongType(), True), True),
    ])
    snapshot_commit(
        spark.createDataFrame([(1, (10,), [1, 2])], s_strict), path
    )
    # append with inverted nullability at every depth: NOT drift
    sid = snapshot_commit(
        spark.createDataFrame([(2, (20,), [3])], s_loose), path
    )
    assert sid == 2
    got = sorted(r["id"] for r in snapshot_read(spark, path).collect())
    assert got == [1, 2]


@pytest.mark.parametrize("call", [
    "upsert", "merge_delete_when", "merge_update_columns",
])
def test_strict_upsert_with_wider_staging_stays_readable(
    spark, tmp_path, call
):
    """ADVICE r10 (medium): evolve=False upsert with a WIDENED staging
    type must not write wide physical files under a narrow pin — the
    staging batch is cast down to the pinned schema and every
    subsequent read of the new snapshot works. The full-row merge with
    a tombstone flag and the column-subset merge share that cast-down
    step, so all three callers are pinned."""
    path = _uri(tmp_path, "occ_wn")
    snapshot_commit(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v int"), path,
        stat_columns=["id"],
    )
    wide = spark.createDataFrame([(2, 22), (3, 33)], "id long, v long")
    if call == "upsert":
        snapshot_upsert(spark, path, wide, pk_columns=["id"])
    elif call == "merge_delete_when":
        snapshot_merge(
            spark, path, wide, pk_columns=["id"], delete_when=F.lit(False)
        )
    else:
        snapshot_merge(
            spark, path, wide, pk_columns=["id"], update_columns=["v"]
        )
    cur = snapshot_read(spark, path)
    assert dict(cur.dtypes)["v"] == "int"  # pin unchanged
    got = {r["id"]: r["v"] for r in cur.collect()}  # actually READS files
    assert got == {1: 10, 2: 22, 3: 33}
    assert snapshot_schema(path).fieldNames() == ["id", "v"]


def test_upsert_evolves_legacy_table_without_pinned_schema(spark, tmp_path):
    """ADVICE r10: evolve=True on a legacy table (commit record with no
    pinned schema) derives the table schema from a data-file footer and
    still evolves — never silently drops the new staging column."""
    path = _uri(tmp_path, "occ_lg")
    snapshot_commit(_df(spark, [(1, 1), (2, 2)]), path, stat_columns=["id"])
    # strip the pinned schema to simulate a pre-evolution table
    fs = TableFS(spark, path)
    recp = join(path, "snapshots", "s-000001.json")
    rec = json.loads(fs.read_text(recp))
    rec.pop("schema")
    fs.write_text(recp, json.dumps(rec))
    assert snapshot_schema(path) is None

    sid = snapshot_upsert(
        spark, path,
        spark.createDataFrame([(2, 22, "x")], "id long, v long, tag string"),
        pk_columns=["id"], evolve=True,
    )
    cur = snapshot_read(spark, path)
    assert cur.columns == ["id", "v", "tag"]
    got = {r["id"]: (r["v"], r["tag"]) for r in cur.collect()}
    assert got == {1: (1, None), 2: (22, "x")}
    assert snapshot_schema(path, sid).fieldNames() == ["id", "v", "tag"]


def test_restore_is_metadata_only_and_preserves_history(spark, tmp_path):
    """snapshot_restore points the tip back at a retained snapshot's
    exact file set + schema with zero data movement; the rolled-back
    tip stays time-travelable; the changelog across the restore is the
    net undo; expire then GCs the rolled-back files."""
    from replicadb_spark.operators.snapshot_table import (
        snapshot_changes,
        snapshot_restore,
    )

    path = _uri(tmp_path, "rst")
    s1 = snapshot_commit(
        _df(spark, [(1, 1), (2, 2)]), path, stat_columns=["id"]
    )
    s2 = snapshot_upsert(
        spark, path, _df(spark, [(2, 22), (3, 33)]), pk_columns=["id"]
    )
    s3 = snapshot_restore(spark, path, s1)
    assert s3 == 3
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {1: 1, 2: 2}  # back to s1's content
    # pre-restore tip still readable (history preserved)
    got2 = {r["id"]: r["v"]
            for r in snapshot_read(spark, path, snapshot_id=s2).collect()}
    assert got2 == {1: 1, 2: 22, 3: 33}
    # the changelog across the restore is the net undo of the upsert
    log = {
        (r["id"], r["_change_type"])
        for r in snapshot_changes(
            spark, path, pk_columns=["id"], from_snapshot=s2, to_snapshot=s3
        ).collect()
    }
    assert log == {(2, "update"), (3, "delete")}
    hist = {r["snapshot_id"]: r["operation"]
            for r in snapshot_history(spark, path).collect()}
    assert hist == {1: "append", 2: "upsert", 3: "restore"}
    # restore to the current tip: no-op
    assert snapshot_restore(spark, path, s3) == s3
    # expire drops the rolled-back upsert's files; the restored content
    # (physically s1's files, referenced by the s3 manifest) survives
    res = snapshot_expire(spark, path, keep_last=1)
    assert res["expired"] == [1, 2]
    assert {r["id"] for r in snapshot_read(spark, path).collect()} == {1, 2}


def test_expire_dry_run_touches_nothing(spark, tmp_path):
    path = _uri(tmp_path, "dry")
    snapshot_commit(_df(spark, [(1, 1)]), path, stat_columns=["id"])
    snapshot_commit(_df(spark, [(2, 2)]), path, stat_columns=["id"])
    fs = TableFS(spark, path)
    orphan_dir = join(path, "data", "snap-000009")
    _df(spark, [(9, 9)]).write.parquet(orphan_dir)
    res = snapshot_expire(spark, path, keep_last=1, dry_run=True)
    assert res["dry_run"] and res["expired"] == [1]
    assert res["data_files_removed"] >= 1  # would remove the orphan
    # nothing actually went: both snapshots and the orphan still exist
    assert fs.exists(orphan_dir)
    assert snapshot_read(spark, path, snapshot_id=1).count() == 1
    assert snapshot_read(spark, path).count() == 2


def test_timestamp_as_of_resolution(spark, tmp_path):
    from replicadb_spark.operators.snapshot_table import (
        snapshot_as_of,
        snapshot_record,
    )

    path = _uri(tmp_path, "tsr")
    s1 = snapshot_commit(_df(spark, [(1, 1)]), path, stat_columns=["id"])
    s2 = snapshot_commit(_df(spark, [(2, 2)]), path, stat_columns=["id"])
    t1 = snapshot_record(path, s1)["committed_at_ms"]
    t2 = snapshot_record(path, s2)["committed_at_ms"]
    assert t1 <= t2
    assert snapshot_as_of(path, t1) == s1 or t1 == t2
    assert snapshot_as_of(path, t2) == s2
    assert snapshot_as_of(path, t2 + 10_000) == s2
    with pytest.raises(ValueError, match="committed at or before"):
        snapshot_as_of(path, t1 - 10_000)
    # history surfaces the stamps
    stamps = {r["snapshot_id"]: r["committed_at_ms"]
              for r in snapshot_history(spark, path).collect()}
    assert stamps == {1: t1, 2: t2}


def test_concurrent_ingest_and_compaction_both_land(
    spark, tmp_path, monkeypatch
):
    """The scenario VERDICT r10 named as the real-pipeline reality:
    ingest (append) and compaction racing. Both directions land —
    a compaction stealing the append's publish window makes the append
    retry onto the compacted tip; an append stealing the compaction's
    window passes read-set validation (appends remove nothing) and the
    compaction retries with the appended files flowing through."""
    from replicadb_spark.operators.snapshot_table import snapshot_compact

    path = _uri(tmp_path, "occ_ic")
    # fragmented base: 8 one-row files → compaction has victims
    snapshot_commit(
        _df(spark, [(i, i) for i in range(8)]).repartition(8),
        path, stat_columns=["id"],
    )

    # direction 1: append loses to a concurrent compaction
    _race_once(
        monkeypatch,
        lambda: snapshot_compact(spark, path, small_mb=16, target_files=1),
    )
    sid = snapshot_commit(_df(spark, [(100, 100)]), path, stat_columns=["id"])
    assert sid == 3  # compaction took 2, append retried onto it
    got = {r["id"] for r in snapshot_read(spark, path).collect()}
    assert got == set(range(8)) | {100}

    # direction 2: compaction loses to a concurrent append — fragment
    # again so there is something to compact
    snapshot_commit(
        _df(spark, [(200 + i, 0) for i in range(4)]).repartition(4),
        path, stat_columns=["id"],
    )
    _race_once(
        monkeypatch,
        lambda: snapshot_commit(
            _df(spark, [(300, 300)]), path, stat_columns=["id"]
        ),
    )
    sid2 = snapshot_compact(spark, path, small_mb=16, target_files=1)
    assert sid2 == 6  # append took 5, compaction retried onto it
    got2 = {r["id"] for r in snapshot_read(spark, path).collect()}
    assert got2 == set(range(8)) | {100} | {200, 201, 202, 203} | {300}
    hist = {r["snapshot_id"]: r["operation"]
            for r in snapshot_history(spark, path).collect()}
    assert hist == {1: "append", 2: "compact", 3: "append",
                    4: "append", 5: "append", 6: "compact"}


def test_expire_orphan_grace_spares_young_files(spark, tmp_path):
    """orphan_grace_ms (the VACUUM-retention analog): an unreferenced
    file younger than the grace survives — it may be an in-flight
    commit's data — while old orphans still go; grace 0 keeps the
    sweep-everything maintenance behavior."""
    import os
    import time

    from replicadb_spark.operators.snapshot_table import snapshot_manifest

    path = _uri(tmp_path, "grace")
    snapshot_commit(_df(spark, [(1, 1)]), path, stat_columns=["id"])
    # young orphan: just written (an "in-flight commit")
    young_dir = join(path, "data", "snap-000050")
    _df(spark, [(50, 50)]).write.parquet(young_dir)
    # old orphan: backdate its mtime beyond the grace
    old_dir = join(path, "data", "snap-000060")
    _df(spark, [(60, 60)]).write.parquet(old_dir)
    local_old = old_dir[len("file://"):]
    past = time.time() - 3600
    for root, _dirs, files in os.walk(local_old):
        for f in files:
            os.utime(os.path.join(root, f), (past, past))

    res = snapshot_expire(
        spark, path, keep_last=1, orphan_grace_ms=10 * 60 * 1000
    )
    fs = TableFS(spark, path)
    assert fs.glob(join(young_dir, "*.parquet"))  # spared
    assert not fs.glob(join(old_dir, "*.parquet"))  # swept
    assert res["data_files_removed"] >= 1
    assert snapshot_read(spark, path).count() == 1
    # referenced files are never grace-gated: the table itself intact
    assert snapshot_manifest(spark, path).select("file").distinct().count() >= 1

    # grace 0: the young orphan goes too
    res2 = snapshot_expire(spark, path, keep_last=1)
    assert not fs.glob(join(young_dir, "*.parquet"))
    assert res2["data_files_removed"] >= 1


def _backdate(uri: str, seconds: float = 3600) -> None:
    import os
    import time

    local = uri[len("file://"):]
    past = time.time() - seconds
    for root, _dirs, files in os.walk(local):
        for f in files:
            os.utime(os.path.join(root, f), (past, past))
        os.utime(root, (past, past))


def test_expire_manifest_sweep_respects_orphan_grace(spark, tmp_path):
    """ADVICE r11 (high): an in-flight OCC commit writes its manifest
    BEFORE _try_publish, so expire's unreferenced-manifest sweep must
    apply the same mtime grace as the data sweep — otherwise an expire
    racing a live writer deletes the manifest and the writer's publish
    lands pointing at nothing (unreadable tip). Old crashed-loser
    manifests still go; grace 0 keeps the sweep-everything behavior."""
    from replicadb_spark.operators.snapshot_table import snapshot_manifest

    path = _uri(tmp_path, "mgrace")
    snapshot_commit(_df(spark, [(1, 1)]), path, stat_columns=["id"])
    fs = TableFS(spark, path)
    # young manifest: a live writer mid-commit (written, not published)
    young = join(path, "manifests", "m-000002-cafe0001")
    snapshot_manifest(spark, path).write.parquet(young)
    # old manifest: a crashed loser from a past maintenance window
    old = join(path, "manifests", "m-000002-dead0002")
    snapshot_manifest(spark, path).write.parquet(old)
    _backdate(old)

    snapshot_expire(spark, path, keep_last=1, orphan_grace_ms=10 * 60 * 1000)
    assert fs.exists(young)  # spared — may belong to the live writer
    assert not fs.exists(old)  # crashed loser swept

    # the live writer's publish now lands pointing at the spared
    # manifest and the tip is readable — the exact failure mode the
    # grace closes
    assert snap_mod._try_publish(fs, path, {
        "snapshot_id": 2, "parent_id": 1, "operation": "append",
        "manifest": young,
    })
    assert snapshot_read(spark, path).count() == 1

    # grace 0 on a now-expired id 1: manifest sweep reverts to eager
    leftover = join(path, "manifests", "m-000003-feed0003")
    snapshot_manifest(spark, path).write.parquet(leftover)
    snapshot_expire(spark, path, keep_last=1)
    assert not fs.exists(leftover)


def test_upsert_refuses_concurrent_append_of_same_key(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 (medium): a concurrent commit that ADDS rows sharing
    this upsert's staging PKs passes victim-visibility and schema
    validation (appends remove nothing), but retrying would publish
    duplicate PK rows — the pk_guard must refuse loudly (Delta's
    ConcurrentAppendException shape)."""
    path = _uri(tmp_path, "occ_pk")
    snapshot_commit(_df(spark, [(1, 1), (2, 2)]), path, stat_columns=["id"])

    _race_once(
        monkeypatch,
        lambda: snapshot_commit(
            _df(spark, [(5, 99)]), path, stat_columns=["id"]
        ),
    )
    with pytest.raises(ConcurrentCommitError, match="sharing primary keys"):
        snapshot_upsert(
            spark, path, _df(spark, [(2, 22), (5, 55)]), pk_columns=["id"]
        )
    # the winner's append is the tip; the loser published nothing —
    # exactly one row per PK
    rows = snapshot_read(spark, path).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 5]
    assert {r["id"]: r["v"] for r in rows}[5] == 99


def test_two_pruned_upserts_of_same_new_key_refuse(
    spark, tmp_path, monkeypatch
):
    """Two racing upserts INSERTING the same new key, both stat-pruned
    to zero victims (the key is outside every file's range): victim
    validation has nothing to check, so only the pk_guard stands
    between the retry and a duplicate-PK table."""
    path = _uri(tmp_path, "occ_pk2")
    snapshot_commit(_df(spark, [(1, 1), (2, 2)]), path, stat_columns=["id"])

    _race_once(
        monkeypatch,
        lambda: snapshot_upsert(
            spark, path, _df(spark, [(7, 70)]),
            pk_columns=["id"], prune_column="id",
        ),
    )
    with pytest.raises(ConcurrentCommitError, match="sharing primary keys"):
        snapshot_upsert(
            spark, path, _df(spark, [(7, 71)]),
            pk_columns=["id"], prune_column="id",
        )
    rows = snapshot_read(spark, path).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 7]
    assert {r["id"]: r["v"] for r in rows}[7] == 70  # the winner's row


def test_overwrite_cas_refuses_stale_precheck(spark, tmp_path):
    """r15: an overwrite whose content derives from a named snapshot
    (expect_parent) must refuse when the tip has already moved —
    BEFORE writing any data. Without the precondition, the overwrite
    would publish a state summed from snapshot 1 and silently erase
    append 2's rows (the lost-update shape of derived compaction)."""
    from replicadb_spark.operators.snapshot_table import (
        ConcurrentCommitError,
    )

    path = _uri(tmp_path, "cas_precheck")
    snapshot_commit(_df(spark, [(1, 10)]), path)
    snapshot_commit(_df(spark, [(2, 20)]), path)  # tip moves to 2
    with pytest.raises(ConcurrentCommitError, match="tip is 2"):
        snapshot_commit(
            _df(spark, [(1, 10)]), path, mode="overwrite", expect_parent=1
        )
    # nothing was erased and no snapshot was burnt
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {1: 10, 2: 20}
    assert snap_mod.current_snapshot(path) == 2


def test_overwrite_cas_refuses_lost_publish_race(
    spark, tmp_path, monkeypatch
):
    """r15: the CAS precondition must also hold at the PUBLISH point —
    a concurrent append landing between the overwrite's data write and
    its commit-record rename means the derived content is stale, so
    the overwrite must raise instead of retrying over the winner (the
    plain-overwrite retry path republishes its own content and erases
    the racing append). The loser's unpublished data dir is reclaimed
    immediately."""
    from replicadb_spark.operators.snapshot_table import (
        ConcurrentCommitError,
    )

    path = _uri(tmp_path, "cas_publish_race")
    snapshot_commit(_df(spark, [(1, 10)]), path)

    _race_once(
        monkeypatch,
        lambda: snapshot_commit(_df(spark, [(2, 20)]), path),
    )
    with pytest.raises(ConcurrentCommitError, match="advanced the tip"):
        snapshot_commit(
            _df(spark, [(1, 99)]), path, mode="overwrite", expect_parent=1
        )
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {1: 10, 2: 20}  # the racing append was NOT erased
    # the refused attempt's data dir was deleted, not left for GC
    fs = TableFS(spark, path)
    snap_dirs = [
        d for d in fs.list_names(join(path, "data")) if d.startswith("snap-")
    ]
    assert len(snap_dirs) == 2  # exactly the two published commits


def test_parallel_appenders_race_cas_compactors(spark, tmp_path):
    """r15 adversarial OCC: six delta APPENDERS race two CAS-guarded
    COMPACTORS on one additive count store — real threads, no
    interleaving harness (the concurrent-compaction-vs-delta-append
    scenario VERDICT r14 named). Each compactor reads the tip, sums
    the visible log into its own per-attempt scratch, and publishes an
    overwrite with expect_parent = that tip, skipping on refusal — the
    delta-log maintainer's exact protocol. Invariant: whatever
    interleaving happened, the final summed view equals the exact
    per-key totals of ALL appended deltas (a compaction may lose its
    race, never an append), and every intermediate snapshot sums
    consistently (no torn state ever published)."""
    from concurrent.futures import ThreadPoolExecutor

    from replicadb_spark.operators.snapshot_table import (
        ConcurrentCommitError,
        current_snapshot,
    )

    path = _uri(tmp_path, "occ_append_vs_compact")

    def append(i):
        # key = i % 3, delta 1 → expected totals {0: 2, 1: 2, 2: 2}
        return snapshot_commit(
            spark.createDataFrame([(i % 3, 1)], "k long, n long"), path
        )

    def compact(tag):
        outcomes = []
        for attempt in range(3):
            tip = current_snapshot(path)
            if tip is None:
                outcomes.append("empty")
                continue
            scratch = str(tmp_path / f"scr_{tag}_{attempt}")
            summed = (
                snapshot_read(spark, path, snapshot_id=tip)
                .groupBy("k")
                .agg(F.sum("n").alias("n"))
            )
            summed.write.mode("overwrite").parquet(scratch)
            try:
                snapshot_commit(
                    spark.read.parquet(scratch), path,
                    mode="overwrite", expect_parent=tip,
                )
                outcomes.append("compacted")
            except ConcurrentCommitError:
                outcomes.append("refused")
        return outcomes

    with ThreadPoolExecutor(max_workers=8) as pool:
        futs = [pool.submit(append, i) for i in range(6)]
        futs += [pool.submit(compact, t) for t in ("a", "b")]
        results = [f.result() for f in futs]

    # every append landed (an id was returned for all six)
    assert all(isinstance(r, int) for r in results[:6])
    got = {
        r["k"]: r["n"]
        for r in snapshot_read(spark, path)
        .groupBy("k")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert got == {0: 2, 1: 2, 2: 2}  # no append erased by any compactor
    # every PUBLISHED snapshot is internally consistent: its summed
    # totals never exceed the final totals and are never negative —
    # and each compaction snapshot equals the sum of everything before
    hist = sorted(
        (int(r["snapshot_id"]), r["operation"])
        for r in snapshot_history(spark, path).collect()
    )
    for sid, _op in hist:
        s = {
            r["k"]: r["n"]
            for r in snapshot_read(spark, path, snapshot_id=sid)
            .groupBy("k")
            .agg(F.sum("n").alias("n"))
            .collect()
        }
        assert all(0 < v <= 2 for v in s.values()), (sid, s)
    assert sum(1 for _, op in hist if op == "append") == 6


def test_uncoordinated_parallel_appends_all_land(spark, tmp_path):
    """r14 adversarial OCC: SIX appenders race with NO simulated
    interleaving — real threads, real publish contention on one table.
    Every append must land exactly once (the OCC loop re-derives the
    manifest union against whatever tip it lost to), snapshot ids must
    be a gapless 1..6, and every intermediate snapshot must read as a
    consistent prefix-union of the winners before it."""
    from concurrent.futures import ThreadPoolExecutor

    path = _uri(tmp_path, "occ_parallel_append")
    with ThreadPoolExecutor(max_workers=6) as pool:
        sids = list(
            pool.map(
                lambda i: snapshot_commit(
                    _df(spark, [(i, i * 10)]), path, stat_columns=["id"]
                ),
                range(1, 7),
            )
        )
    assert sorted(sids) == [1, 2, 3, 4, 5, 6]  # no burnt or shared ids
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {i: i * 10 for i in range(1, 7)}  # nothing lost/duped
    hist = snapshot_history(spark, path).collect()
    assert {r["operation"] for r in hist} == {"append"}
    # every snapshot is a readable union of k winners (size k): commits
    # never published a half-state
    for k in range(1, 7):
        rows = snapshot_read(spark, path, snapshot_id=k).collect()
        assert len(rows) == k
        assert len({r["id"] for r in rows}) == k


def test_uncoordinated_parallel_disjoint_merges_all_land(spark, tmp_path):
    """r14 adversarial OCC: four MERGE writers race on DISJOINT key
    ranges of one seeded table. The seed's files overlap every writer's
    victim set, so losers REFUSE ("a concurrent commit rewrote ... —
    re-run against the new snapshot", the documented COW contract) and
    the caller re-runs against the new tip — the loop every real
    writer wraps around a COW merge. Convergence is the invariant:
    after all four writers' loops finish, the table must equal
    applying the merges in any order, with no update lost to a stale
    rewrite and no snapshot published half-applied."""
    from concurrent.futures import ThreadPoolExecutor

    from replicadb_spark.operators.snapshot_table import snapshot_merge

    path = _uri(tmp_path, "occ_parallel_merge")
    seed = [(i, 0) for i in range(1, 9)]
    snapshot_commit(_df(spark, seed), path, stat_columns=["id"])

    def merge_range(lo):
        staging = _df(spark, [(lo, lo * 100), (lo + 1, (lo + 1) * 100)])
        retries = 0
        while True:
            try:
                return snapshot_merge(
                    spark, path, staging, pk_columns=["id"]
                ), retries
            except ConcurrentCommitError as e:
                assert "re-run against the new snapshot" in str(e)
                retries += 1
                assert retries <= 16, "merge loop failed to converge"

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(merge_range, [1, 3, 5, 7]))
    assert sorted(s for s, _ in results) == [2, 3, 4, 5]
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {i: i * 100 for i in range(1, 9)}
    # every intermediate snapshot is a consistent state: the seed plus
    # k whole merges — never a torn one
    for k in range(2, 6):
        rows = {
            r["id"]: r["v"]
            for r in snapshot_read(spark, path, snapshot_id=k).collect()
        }
        applied = [lo for lo in (1, 3, 5, 7) if rows.get(lo) == lo * 100]
        for lo in applied:
            assert rows[lo + 1] == (lo + 1) * 100  # merges are atomic
        assert len(applied) == k - 1


def test_expire_races_live_writers_with_grace(spark, tmp_path):
    """r14 adversarial GC: snapshot_expire runs CONCURRENTLY with live
    appenders (real threads, no interleaving harness), with
    orphan_grace_ms covering the commit duration — the documented
    deployment shape for GC next to writers. Invariants: every append
    lands exactly once, the final table reads complete, and the tip
    snapshot stays readable after every expire pass (GC must never
    delete a file a kept or in-flight commit references)."""
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    path = _uri(tmp_path, "occ_expire_race")
    snapshot_commit(_df(spark, [(0, 0)]), path, stat_columns=["id"])

    def writer(i):
        return snapshot_commit(
            _df(spark, [(i, i * 10)]), path, stat_columns=["id"]
        )

    def collector():
        out = []
        for _ in range(4):
            out.append(
                snapshot_expire(
                    spark, path, keep_last=2, orphan_grace_ms=600_000
                )
            )
            _time.sleep(0.2)
        return out

    with ThreadPoolExecutor(max_workers=5) as pool:
        gc = pool.submit(collector)
        sids = list(pool.map(writer, range(1, 5)))
        stats = gc.result()

    assert sorted(sids) == [2, 3, 4, 5]  # every append landed once
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {i: i * 10 for i in range(0, 5)}  # nothing GC'd away
    # a final pass after the writers drain makes the expired-something
    # assertion deterministic (the concurrent passes race writer
    # progress and may legitimately each find < 3 snapshots); the tip
    # must stay coherent through it
    stats.append(
        snapshot_expire(spark, path, keep_last=2, orphan_grace_ms=600_000)
    )
    assert any(s["expired"] for s in stats)
    assert {
        r["id"]: r["v"] for r in snapshot_read(spark, path).collect()
    } == got
    hist = {r["snapshot_id"] for r in snapshot_history(spark, path).collect()}
    assert 5 in hist


def test_delta_log_random_schedule_property(spark, tmp_path):
    """r15 property: for RANDOM interleavings of delta appends and
    CAS-guarded compactions (the additive-store protocol), the summed
    view equals the exact per-key totals after EVERY step, and
    time-traveled intermediate snapshots sum to the prefix totals.
    Randomized schedules (seeded, 3 runs) instead of a hypothesis
    strategy: each step is a real Spark commit, so the budget goes to
    schedule diversity, not shrinking."""
    import random

    from pyspark.sql import functions as F

    from replicadb_spark.operators.snapshot_table import current_snapshot

    for trial in range(3):
        rng = random.Random(1000 + trial)
        path = _uri(tmp_path, f"delta_prop_{trial}")
        totals: dict[int, int] = {}

        def view_sums(snapshot_id=None):
            return {
                r["k"]: r["n"]
                for r in snapshot_read(
                    spark, path, snapshot_id=snapshot_id
                )
                .groupBy("k")
                .agg(F.sum("n").alias("n"))
                .collect()
            }

        prefix_totals: dict[int, dict[int, int]] = {}
        for step in range(rng.randint(5, 8)):
            if rng.random() < 0.7 or current_snapshot(path) is None:
                k, d = rng.randint(0, 2), rng.randint(1, 5)
                sid = snapshot_commit(
                    spark.createDataFrame([(k, d)], "k long, n long"), path
                )
                totals[k] = totals.get(k, 0) + d
            else:
                tip = current_snapshot(path)
                summed = (
                    snapshot_read(spark, path, snapshot_id=tip)
                    .groupBy("k")
                    .agg(F.sum("n").alias("n"))
                )
                sid = snapshot_commit(
                    summed.localCheckpoint(eager=True), path,
                    mode="overwrite", expect_parent=tip,
                )
            prefix_totals[sid] = dict(totals)
            assert view_sums() == totals, (trial, step)
        # every intermediate snapshot sums to its prefix totals
        for sid, want in prefix_totals.items():
            assert view_sums(snapshot_id=sid) == want, (trial, sid)


def test_overwrite_survives_fault_at_every_metadata_step(spark, tmp_path):
    """r15: the OVERWRITE commit path (logical replace — what delta-log
    compaction publishes) under the same every-step crash sweep as
    append/upsert: until the publish rename lands, every crash leaves
    the OLD visible set byte-intact; a plain retry converges; GC sweeps
    the debris."""
    steps = _fault_every_step(
        spark, tmp_path, "overwrite",
        lambda p: snapshot_commit(
            _df(spark, [(1, 11), (2, 22), (3, 33)]), p,
            mode="overwrite", stat_columns=["id"],
        ),
        {1: 11, 2: 22, 3: 33},
    )
    assert steps >= 2


def test_cas_overwrite_survives_fault_at_every_metadata_step(
    spark, tmp_path
):
    """r15: the CAS-guarded overwrite (the compaction shape — derive
    from the tip, publish with expect_parent=that tip) under the
    every-step crash sweep. The retry re-derives its precondition from
    the post-crash tip, exactly like a compactor re-firing at the next
    interval; atomicity and convergence must hold at every fault
    point."""
    from replicadb_spark.operators.snapshot_table import current_snapshot

    def run_op(p):
        tip = current_snapshot(p)
        return snapshot_commit(
            _df(spark, [(1, 11), (2, 22), (3, 33)]), p,
            mode="overwrite", stat_columns=["id"],
            expect_parent=tip if tip is not None else 0,
        )

    steps = _fault_every_step(
        spark, tmp_path, "cas_overwrite", run_op, {1: 11, 2: 22, 3: 33}
    )
    assert steps >= 2


def _fault_every_step(spark, tmp_path, op_name, run_op, expect_after):
    """Drive ``run_op`` with an injected IOError at the k-th TableFS
    metadata mutation, for every k until a run completes fault-free.
    After every injected crash the table must read at the OLD tip
    (publish is the only visibility point) unless the fault landed in
    post-publish cleanup (tip advanced — then the op's effect must be
    COMPLETE); a fresh retry must then converge to ``expect_after``,
    and GC must clean up without breaking the tip."""
    from replicadb_spark import fs as fs_mod

    muts = [
        "mkdirs", "write_text", "rename_no_overwrite", "delete",
        "put_if_absent",
    ]
    originals = {m: getattr(fs_mod.TableFS, m) for m in muts}
    state = {"left": None}

    def wrap(name, orig):
        def inner(self, *a, **kw):
            if state["left"] is not None:
                if state["left"] <= 0:
                    state["left"] = None
                    raise IOError(f"injected fault at {name}")
                state["left"] -= 1
            return orig(self, *a, **kw)

        return inner

    for m in muts:
        setattr(fs_mod.TableFS, m, wrap(m, originals[m]))
    try:
        k = 0
        while True:
            assert k < 80, f"{op_name}: fault sweep failed to terminate"
            path = _uri(tmp_path, f"fault_{op_name}_{k}")
            seed = [(1, 10), (2, 20)]
            snapshot_commit(_df(spark, seed), path, stat_columns=["id"])
            state["left"] = k
            try:
                run_op(path)
            except IOError as e:
                assert "injected fault" in str(e), e
                state["left"] = None
                got = {
                    r["id"]: r["v"]
                    for r in snapshot_read(spark, path).collect()
                }
                # atomicity: old tip intact, or (post-publish fault)
                # the op fully applied — never a torn state
                assert got in (dict(seed), expect_after), (k, got)
                if got == dict(seed):
                    run_op(path)  # recoverability: plain retry lands
                got = {
                    r["id"]: r["v"]
                    for r in snapshot_read(spark, path).collect()
                }
                assert got == expect_after, (k, got)
                # GC sweeps any crash orphans; tip stays readable
                snapshot_expire(spark, path, keep_last=1)
                assert {
                    r["id"]: r["v"]
                    for r in snapshot_read(spark, path).collect()
                } == expect_after
                k += 1
            else:
                state["left"] = None
                # budget outlived the op: every metadata step was swept
                got = {
                    r["id"]: r["v"]
                    for r in snapshot_read(spark, path).collect()
                }
                assert got == expect_after, (k, got)
                return k
    finally:
        state["left"] = None
        for m in muts:
            setattr(fs_mod.TableFS, m, originals[m])


def test_append_survives_fault_at_every_metadata_step(spark, tmp_path):
    """r14 failure injection: crash an APPEND at every TableFS mutation
    point in turn. Invariants per crash point: readers never see a
    torn state (old tip until publish, whole new snapshot after), a
    plain retry converges, and expire GCs the crash debris."""
    steps = _fault_every_step(
        spark, tmp_path, "append",
        lambda p: snapshot_commit(
            _df(spark, [(3, 30)]), p, stat_columns=["id"]
        ),
        {1: 10, 2: 20, 3: 30},
    )
    assert steps >= 2  # the sweep really exercised multiple fault points


def test_upsert_survives_fault_at_every_metadata_step(spark, tmp_path):
    """The COW path (victim rewrite + manifest swap) under the same
    every-step crash sweep: a torn upsert would be the worst failure
    (rows duplicated across old and rewritten files) — publish
    atomicity must make every prefix crash invisible."""
    steps = _fault_every_step(
        spark, tmp_path, "upsert",
        lambda p: snapshot_upsert(
            spark, p, _df(spark, [(2, 22), (9, 90)]), pk_columns=["id"]
        ),
        {1: 10, 2: 22, 9: 90},
    )
    assert steps >= 2
