"""Storage portability of the snapshot table (VERDICT r8 item 2).

The lakehouse layer's metadata I/O must run through the session's
Hadoop FileSystem so the table root can be ANY Spark-readable URI.
These tests drive the FULL lifecycle — commit/append/time-travel/
delete/compact/upsert/changes/expire — against an explicit ``file://``
URI (a scheme ``os.*`` would choke on: ``os.listdir('file:///x')`` is
ENOENT), and statically pin that the snapshot/manifest modules touch
data and metadata paths only through replicadb_spark.fs.
"""

import inspect
import json
import re

import pytest
from pyspark.sql import functions as F

from replicadb_spark.fs import TableFS, join
from replicadb_spark.operators import manifest as manifest_mod
from replicadb_spark.operators import snapshot_table as snap_mod
from replicadb_spark.operators.snapshot_table import (
    current_snapshot,
    last_committed_batch_id,
    snapshot_changes,
    snapshot_commit,
    snapshot_compact,
    snapshot_delete,
    snapshot_expire,
    snapshot_history,
    snapshot_read,
    snapshot_upsert,
)

def _uri(tmp_path, name: str) -> str:
    return "file://" + str(tmp_path / name)


def test_full_lifecycle_on_file_uri(spark, tmp_path):
    """commit → append → time travel → COW delete → compact → upsert →
    changelog → expire, all on a ``file://`` root."""
    path = _uri(tmp_path, "t")
    s1 = snapshot_commit(
        spark.createDataFrame([(i, i * 10) for i in range(8)], "id long, v long"),
        path, stat_columns=["id"], meta={"batch_id": 3},
    )
    s2 = snapshot_commit(
        spark.createDataFrame([(i, i * 10) for i in range(8, 12)], "id long, v long"),
        path, stat_columns=["id"],
    )
    assert (s1, s2) == (1, 2)
    assert current_snapshot(path) == 2
    assert last_committed_batch_id(path) == 3
    assert snapshot_read(spark, path).count() == 12
    assert snapshot_read(spark, path, snapshot_id=s1).count() == 8
    # data skipping on the URI-form manifest: only the second commit's
    # files intersect id ∈ [9, 11]
    pruned = snapshot_read(spark, path, prune=("id", 9.0, 11.0))
    assert {r["id"] for r in pruned.where("id >= 9").collect()} == {9, 10, 11}

    s3 = snapshot_delete(spark, path, F.col("id") < 2, prune=("id", 0.0, 1.0))
    assert snapshot_read(spark, path).count() == 10
    assert snapshot_read(spark, path, snapshot_id=s2).count() == 12

    s4 = snapshot_compact(spark, path, small_mb=64, target_files=1)
    assert s4 == s3 + 1
    assert snapshot_read(spark, path).count() == 10
    # compaction rewrites identical content → empty changelog
    assert snapshot_changes(
        spark, path, pk_columns=["id"], from_snapshot=s3, to_snapshot=s4
    ).count() == 0

    s5 = snapshot_upsert(
        spark,
        path,
        spark.createDataFrame([(2, 999), (50, 500)], "id long, v long"),
        pk_columns=["id"],
        prune_column="id",
    )
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got[2] == 999 and got[50] == 500 and len(got) == 11
    log = {
        (r["id"], r["_change_type"])
        for r in snapshot_changes(
            spark, path, pk_columns=["id"], from_snapshot=s4, to_snapshot=s5
        ).collect()
    }
    assert log == {(2, "update"), (50, "insert")}

    hist = {r["snapshot_id"]: r["operation"]
            for r in snapshot_history(spark, path).collect()}
    assert hist == {1: "append", 2: "append", 3: "delete",
                    4: "compact", 5: "upsert"}

    res = snapshot_expire(spark, path, keep_last=2)
    assert res["kept"] == [4, 5] and res["expired"] == [1, 2, 3]
    assert res["data_files_removed"] > 0
    assert snapshot_read(spark, path).count() == 11
    assert snapshot_read(spark, path, snapshot_id=4).count() == 10
    with pytest.raises(ValueError, match="expired"):
        snapshot_read(spark, path, snapshot_id=1)


def test_expire_gcs_crash_orphans_on_file_uri(spark, tmp_path):
    """A crashed (never-published) commit's data files are invisible to
    readers and swept by expire — through the FS API, no os.walk."""
    path = _uri(tmp_path, "t2")
    snapshot_commit(
        spark.createDataFrame([(1, 1)], "id long, v long"), path,
        stat_columns=["id"],
    )
    # simulate a crash AFTER data write, BEFORE the commit record:
    # orphan files under data/snap-000002 with no s-000002.json
    orphan_dir = join(path, "data", "snap-000002")
    spark.createDataFrame([(9, 9)], "id long, v long").write.parquet(orphan_dir)
    assert current_snapshot(path) == 1
    assert snapshot_read(spark, path).count() == 1
    res = snapshot_expire(spark, path, keep_last=1)
    assert res["data_files_removed"] >= 1  # the orphans
    fs = TableFS(spark, path)
    assert not fs.exists(orphan_dir)
    assert snapshot_read(spark, path).count() == 1


def test_commit_point_is_put_if_absent(spark, tmp_path):
    """The publish rename refuses an existing destination — a broken
    single-writer contract dies at the commit point, not silently."""
    path = _uri(tmp_path, "t3")
    fs = TableFS(spark, path)
    fs.mkdirs(join(path, "snapshots"))
    dst = join(path, "snapshots", "s-000009.json")
    fs.write_text(dst, json.dumps({"snapshot_id": 9}))
    tmp = join(path, "snapshots", ".s-000009.json.tmp")
    fs.write_text(tmp, json.dumps({"snapshot_id": 9}))
    with pytest.raises(IOError, match="already exists"):
        fs.rename_no_overwrite(tmp, dst)


def test_put_if_absent_winner_loser_on_file(spark, tmp_path):
    """The commit primitive: first claimant wins, second reads False
    (lost race, not an exception), winner's content is what persists,
    and the loser's tmp is cleaned up."""
    path = _uri(tmp_path, "pia")
    fs = TableFS(spark, path)
    fs.mkdirs(join(path, "snapshots"))
    dst = join(path, "snapshots", "s-000001.json")
    assert fs.put_if_absent(dst, '{"w": 1}') is True
    assert fs.put_if_absent(dst, '{"w": 2}') is False
    assert json.loads(fs.read_text(dst)) == {"w": 1}
    assert fs.list_names(join(path, "snapshots")) == ["s-000001.json"]
    assert fs.scheme == "file"


def test_put_if_absent_staging_paths_are_writer_unique(spark, tmp_path):
    """Two committers racing for one snapshot id must never share a
    staging file: a destination-derived tmp name lets the interleaving
    (A stages, B overwrites the shared tmp, A renames) publish B's
    bytes under A's win while B GCs its manifest as the loser — the
    published tip then points at deleted state. The staging name must
    therefore be unique per put_if_absent call."""
    path = _uri(tmp_path, "piatmp")
    fs = TableFS(spark, path)
    fs.mkdirs(join(path, "snapshots"))
    staged = []
    real = TableFS.write_text

    def spy(self, p, text):
        staged.append(p)
        return real(self, p, text)

    dst = join(path, "snapshots", "s-000001.json")
    import unittest.mock as mock

    with mock.patch.object(TableFS, "write_text", spy):
        assert fs.put_if_absent(dst, '{"w": 1}') is True
        assert fs.put_if_absent(dst, '{"w": 2}') is False
    assert len(staged) == 2 and staged[0] != staged[1]
    # both are dot-prefixed (invisible to Spark listings) in dst's dir
    for p in staged:
        d, name = p.rsplit("/", 1)
        assert d == join(path, "snapshots") and name.startswith(".")
    assert json.loads(fs.read_text(dst)) == {"w": 1}
    # the loser's unique tmp was cleaned up, not leaked
    assert fs.list_names(join(path, "snapshots")) == ["s-000001.json"]


def test_put_if_absent_refuses_s3_without_conditional_writes(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 item 4: on S3 schemes rename is copy+delete (not
    atomic) — with conditional writes off, the commit point must
    refuse loudly instead of silently best-efforting, converting the
    documented Delta-on-S3 caveat into enforced behavior."""
    path = _uri(tmp_path, "s3ref")
    fs = TableFS(spark, path)
    monkeypatch.setattr(TableFS, "scheme", property(lambda self: "s3a"))
    with pytest.raises(IOError, match="refused.*conditional"):
        fs.put_if_absent(join(path, "snapshots", "s-000001.json"), "{}")


class _FakeStream:
    def __init__(self, store, key, conflict):
        self._store, self._key, self._conflict = store, key, conflict
        self._buf = bytearray()

    def write(self, data):
        self._buf += bytes(data)

    def close(self):
        # S3 semantics: the object materializes at close; If-None-Match
        # makes a concurrent existing object surface as HTTP 412
        if self._conflict and self._key in self._store:
            raise Exception(
                "org.apache.hadoop.fs.s3a.RemoteFileChangedException: "
                "PUT returned 412 Precondition Failed"
            )
        self._store[self._key] = bytes(self._buf)


class _FakeBuilder:
    def __init__(self, store, key):
        self._store, self._key = store, key

    def overwrite(self, flag):
        assert flag is False  # If-None-Match only makes sense this way
        return self

    def build(self):
        return _FakeStream(self._store, self._key, conflict=True)


class _FakeJFS:
    """Injected JVM-FS stand-in simulating S3 conditional-put
    semantics: create succeeds iff the key is absent at close."""

    def __init__(self):
        self.store: dict = {}

    def createFile(self, jpath):
        return _FakeBuilder(self.store, jpath.toString())


def test_put_if_absent_conditional_put_winner_loser(
    spark, tmp_path, monkeypatch
):
    """With conditional writes enabled, the S3 commit point is the
    createFile(If-None-Match) build/close: winner True, loser False —
    the same contract the rename path gives HDFS."""
    path = _uri(tmp_path, "s3cp")
    fs = TableFS(spark, path)
    fake = _FakeJFS()
    monkeypatch.setattr(TableFS, "scheme", property(lambda self: "s3a"))
    monkeypatch.setattr(
        TableFS, "_s3_conditional_enabled", lambda self: True
    )
    monkeypatch.setattr(fs, "_fs", fake)
    dst = join(path, "snapshots", "s-000001.json")
    assert fs.put_if_absent(dst, '{"w": 1}') is True
    assert fs.put_if_absent(dst, '{"w": 2}') is False
    key = [k for k in fake.store][0]
    assert json.loads(fake.store[key].decode()) == {"w": 1}


def test_expire_with_different_root_spelling_preserves_live_files(
    spark, tmp_path
):
    """GC called with an equivalent-but-differently-spelled root
    (``file://`` vs plain) must re-anchor the manifest-stored paths
    before the anti-join: left unreconciled every live file misses the
    match and is deleted — silent total data loss. Here the table is
    committed under the PLAIN spelling and expired under ``file://``;
    the live files must survive and the orphan must go."""
    plain = str(tmp_path / "t5")
    snapshot_commit(
        spark.createDataFrame([(i, i) for i in range(6)], "id long, v long"),
        plain, stat_columns=["id"],
    )
    snapshot_commit(
        spark.createDataFrame([(6, 6)], "id long, v long"),
        plain, stat_columns=["id"],
    )
    # orphan from a simulated crash — the only legitimate GC victim
    orphan_dir = join(plain, "data", "snap-000003")
    spark.createDataFrame([(9, 9)], "id long, v long").write.parquet(orphan_dir)

    uri = "file://" + plain
    res = snapshot_expire(spark, uri, keep_last=2)
    assert res["kept"] == [1, 2] and res["expired"] == []
    # the orphans were the only deletions; every live file survived
    assert snapshot_read(spark, plain).count() == 7
    assert snapshot_read(spark, plain, snapshot_id=1).count() == 6
    fs = TableFS(spark, plain)
    assert not fs.exists(orphan_dir)


def test_expire_refuses_manifest_under_foreign_root(spark, tmp_path):
    """If a kept manifest references files whose prefix does not
    resolve to THIS table root, expire must refuse to GC instead of
    anti-joining everything into the doomed set."""
    path = _uri(tmp_path, "t6")
    snapshot_commit(
        spark.createDataFrame([(1, 1)], "id long, v long"), path,
        stat_columns=["id"],
    )
    # corrupt the kept manifest: rewrite its file paths under an alien
    # root (location resolved from the commit record — OCC commits name
    # manifests by attempt token)
    mpath = snap_mod._record_manifest(
        path, snap_mod._read_record(TableFS(spark, path), path, 1)
    )
    rewritten = (
        spark.read.parquet(mpath)
        .withColumn(
            "file",
            F.concat(F.lit("file:///elsewhere/t"),
                     F.expr("substring(file, instr(file, '/data/snap-'))")),
        )
    )
    rewritten.write.mode("overwrite").parquet(join(path, "manifests", "m-bad"))
    fs = TableFS(spark, path)
    fs.delete(mpath, recursive=True)
    fs.rename_no_overwrite(join(path, "manifests", "m-bad"), mpath)
    with pytest.raises(ValueError, match="refusing to GC"):
        snapshot_expire(spark, path, keep_last=1)
    # nothing was deleted before the refusal (the corrupted manifest
    # makes snapshot_read useless here, so check the files directly)
    assert fs.glob(join(path, "data", "snap-000001*", "*.parquet"))


def test_gc_delete_is_idempotent(tmp_path):
    """A retried/speculative GC task re-deleting an already-removed
    file must no-op, not fail the job."""
    f = tmp_path / "victim.parquet"
    f.write_bytes(b"x")
    snap_mod._delete_file_quiet(str(f))
    assert not f.exists()
    snap_mod._delete_file_quiet(str(f))  # second delete: silent no-op


def test_pyarrow_uri_translates_hadoop_s3_spellings():
    """Executor-side path resolution speaks Hadoop spellings: s3a://
    and s3n:// must reach pyarrow as s3://; recognized-as-is schemes
    pass through untouched."""
    from replicadb_spark.fs import pyarrow_uri

    assert pyarrow_uri("s3a://bucket/t/f.parquet") == "s3://bucket/t/f.parquet"
    assert pyarrow_uri("s3n://bucket/f") == "s3://bucket/f"
    assert pyarrow_uri("hdfs://nn:8020/t/f") == "hdfs://nn:8020/t/f"
    assert pyarrow_uri("/plain/local/path") == "/plain/local/path"


def test_no_direct_os_usage_in_table_metadata_modules():
    """Static pin: snapshot_table.py and manifest.py perform zero
    direct ``os.*`` path I/O — everything routes through
    replicadb_spark.fs (Hadoop FileSystem / pyarrow filesystems)."""
    for mod in (snap_mod, manifest_mod):
        src = inspect.getsource(mod)
        assert not re.search(r"^\s*import os\b", src, re.M), mod.__name__
        assert not re.search(r"\bos\.", src), mod.__name__
        assert not re.search(r"\bshutil\b", src), mod.__name__
