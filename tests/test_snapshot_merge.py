"""Full MERGE semantics on the snapshot table
(operators/snapshot_table.snapshot_merge): every clause combination
against a dict reference model, pruning, delete-only key batches,
by-source full-sync, OCC conflict behavior, and time travel."""

import pytest
from pyspark.sql import functions as F

from replicadb_spark.operators import snapshot_table as snap_mod
from replicadb_spark.operators.snapshot_table import (
    ConcurrentCommitError,
    snapshot_commit,
    snapshot_history,
    snapshot_merge,
    snapshot_read,
    snapshot_record,
)


def _uri(tmp_path, name: str) -> str:
    return "file://" + str(tmp_path / name)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v long")


TABLE = [(1, 10), (2, 20), (3, 30)]
STAGE = [(2, 22), (3, 33), (5, 55)]  # 2,3 matched; 5 staging-only


def _model(when_matched, when_not_matched, by_source):
    t, s = dict(TABLE), dict(STAGE)
    out = {}
    for k, v in t.items():
        if k in s:
            if when_matched == "update":
                out[k] = s[k]
            elif when_matched is None:
                out[k] = v
            # "delete": dropped
        elif by_source == "keep":
            out[k] = v
    if when_not_matched == "insert":
        for k, v in s.items():
            if k not in t:
                out[k] = v
    return out


@pytest.mark.parametrize("wm", [None, "update", "delete"])
@pytest.mark.parametrize("wnm", [None, "insert"])
@pytest.mark.parametrize("bs", ["keep", "delete"])
def test_every_clause_combination_matches_model(spark, tmp_path, wm, wnm, bs):
    if wm is None and wnm is None and bs == "keep":
        return  # the no-op combo, tested to raise below
    path = _uri(tmp_path, f"mg_{wm}_{wnm}_{bs}")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    sid = snapshot_merge(
        spark, path, _df(spark, STAGE), pk_columns=["id"],
        when_matched=wm, when_not_matched=wnm, not_matched_by_source=bs,
    )
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == _model(wm, wnm, bs), (wm, wnm, bs)
    # parent unchanged (time travel)
    assert {r["id"]: r["v"]
            for r in snapshot_read(spark, path, snapshot_id=1).collect()
            } == dict(TABLE)
    rec = snapshot_record(path, sid)
    if (wm, wnm, bs) == ("update", "insert", "keep"):
        assert rec["operation"] == "upsert"  # the delegated path
    else:
        assert rec["clauses"] == {
            "when_matched": wm, "when_not_matched": wnm,
            "not_matched_by_source": bs,
        }
    if wm == "update":
        # a delete_when that matches no row leaves the same outcome; it
        # takes the tombstone-aware plan (a merge record) instead of the
        # upsert plan, so both plans are pinned to the model
        path_dw = _uri(tmp_path, f"mg_dw_{wnm}_{bs}")
        snapshot_commit(_df(spark, TABLE), path_dw, stat_columns=["id"])
        sid = snapshot_merge(
            spark, path_dw, _df(spark, STAGE), pk_columns=["id"],
            when_matched=wm, when_not_matched=wnm,
            not_matched_by_source=bs, delete_when=F.lit(False),
        )
        got = {r["id"]: r["v"]
               for r in snapshot_read(spark, path_dw).collect()}
        assert got == _model(wm, wnm, bs), (wm, wnm, bs, "delete_when")
        assert snapshot_record(path_dw, sid)["clauses"]["delete_when"] is True


def test_upsert_combination_delegates_and_matches(spark, tmp_path):
    path = _uri(tmp_path, "mg_upsert")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    snapshot_merge(spark, path, _df(spark, STAGE), pk_columns=["id"])
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == _model("update", "insert", "keep")
    hist = {r["snapshot_id"]: r["operation"]
            for r in snapshot_history(spark, path).collect()}
    assert hist == {1: "append", 2: "upsert"}  # the delegated path


def test_delete_matched_accepts_keys_only_staging(spark, tmp_path):
    """A delete-only merge never adds rows, so the staging batch may
    carry ONLY the pk columns — the changelog-of-deletes shape."""
    path = _uri(tmp_path, "mg_keys")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    keys = spark.createDataFrame([(2,), (9,)], "id long")  # 9 not in table
    snapshot_merge(
        spark, path, keys, pk_columns=["id"],
        when_matched="delete", when_not_matched=None,
    )
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {1: 10, 3: 30}


def test_by_source_delete_is_full_sync(spark, tmp_path):
    """(update, insert, delete) replaces the table's key domain with
    the staging batch — the full-sync replication shape."""
    path = _uri(tmp_path, "mg_sync")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    snapshot_merge(
        spark, path, _df(spark, STAGE), pk_columns=["id"],
        not_matched_by_source="delete",
    )
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == dict(STAGE)


def test_merge_validation_errors(spark, tmp_path):
    path = _uri(tmp_path, "mg_val")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    with pytest.raises(ValueError, match="no-op"):
        snapshot_merge(spark, path, _df(spark, STAGE), pk_columns=["id"],
                       when_matched=None, when_not_matched=None)
    with pytest.raises(ValueError, match="every file"):
        snapshot_merge(spark, path, _df(spark, STAGE), pk_columns=["id"],
                       not_matched_by_source="delete", prune_column="id")
    with pytest.raises(ValueError, match="when_matched"):
        snapshot_merge(spark, path, _df(spark, STAGE), pk_columns=["id"],
                       when_matched="upsert")
    with pytest.raises(ValueError, match="lacks table columns"):
        snapshot_merge(
            spark, path, spark.createDataFrame([(2,)], "id long"),
            pk_columns=["id"], when_matched="update", when_not_matched=None,
        )


def test_merge_prunes_victims_by_key_stats(spark, tmp_path):
    """update-only merge with prune_column: only files whose id stats
    contain a staging key are rewritten; the others carry over."""
    from replicadb_spark.operators.snapshot_table import snapshot_manifest

    path = _uri(tmp_path, "mg_prune")
    snapshot_commit(
        _df(spark, [(i, i * 10) for i in range(1, 9)])
        .repartitionByRange(4, "id"),
        path, stat_columns=["id"],
    )
    m1 = {r["file"] for r in snapshot_manifest(spark, path)
          .select("file").distinct().collect()}
    sid = snapshot_merge(
        spark, path, _df(spark, [(2, 222), (99, 0)]), pk_columns=["id"],
        when_matched="update", when_not_matched=None, prune_column="id",
    )
    rec = snapshot_record(path, sid)
    assert 0 < rec["victim_files"] < len(m1)
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    want = {i: i * 10 for i in range(1, 9)}
    want[2] = 222  # 99 not matched → not inserted (insert clause off)
    assert got == want


def test_merge_occ_refuses_concurrent_same_key_append(
    spark, tmp_path, monkeypatch
):
    """The pk_guard applies to merges too: a concurrent append of a
    staging key between manifest derivation and publish refuses."""
    path = _uri(tmp_path, "mg_occ")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])

    real = snap_mod._try_publish
    state = {"raced": False}

    def racy(fs, p, rec):
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(snap_mod, "_try_publish", real)
            snapshot_commit(_df(spark, [(5, 99)]), path, stat_columns=["id"])
            monkeypatch.setattr(snap_mod, "_try_publish", racy)
        return real(fs, p, rec)

    monkeypatch.setattr(snap_mod, "_try_publish", racy)
    with pytest.raises(ConcurrentCommitError, match="sharing primary keys"):
        snapshot_merge(
            spark, path, _df(spark, STAGE), pk_columns=["id"],
            when_matched="update", when_not_matched="insert",
        )
    rows = snapshot_read(spark, path).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3, 5]


def test_delete_when_applies_tombstones_in_one_commit(spark, tmp_path):
    """delete_when (WHEN MATCHED AND cond THEN DELETE): tombstone rows
    evict their keys, upsert rows land, staging-only tombstones are
    no-ops — all in ONE commit; the op column never reaches the table."""
    path = _uri(tmp_path, "mg_dw")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    chg = spark.createDataFrame(
        [(1, 0, "D"), (2, 22, "U"), (7, 70, "I"), (9, 0, "D")],
        "id long, v long, op string",
    )
    sid = snapshot_merge(
        spark, path, chg, pk_columns=["id"],
        delete_when=F.col("op") == "D",
    )
    cur = snapshot_read(spark, path)
    assert cur.columns == ["id", "v"]  # op never persisted
    got = {r["id"]: r["v"] for r in cur.collect()}
    assert got == {2: 22, 3: 30, 7: 70}  # 1 deleted, 9 no-op
    rec = snapshot_record(path, sid)
    assert rec["clauses"]["delete_when"] is True
    assert snapshot_read(spark, path, snapshot_id=1).count() == len(TABLE)


def test_delete_when_last_wins_with_order_column(spark, tmp_path):
    """A key whose NEWEST changelog row is a delete dies even if an
    older row in the same batch upserted it — and vice versa."""
    path = _uri(tmp_path, "mg_dw_ord")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    chg = spark.createDataFrame(
        [
            (1, 111, "U", 1), (1, 0, "D", 2),   # upsert then delete → gone
            (2, 0, "D", 1), (2, 222, "U", 2),   # delete then upsert → lives
        ],
        "id long, v long, op string, seq long",
    )
    snapshot_merge(
        spark, path, chg, pk_columns=["id"],
        delete_when=F.col("op") == "D", order_column="seq",
    )
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {2: 222, 3: 30}


def test_delete_when_requires_update_clause(spark, tmp_path):
    path = _uri(tmp_path, "mg_dw_val")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    with pytest.raises(ValueError, match="delete_when requires"):
        snapshot_merge(
            spark, path,
            spark.createDataFrame([(1, 1, "D")], "id long, v long, op string"),
            pk_columns=["id"], when_matched="delete",
            delete_when=F.col("op") == "D",
        )


def test_merge_noop_returns_current_tip_without_publishing(spark, tmp_path):
    """ADVICE r12: a merge whose pruning yields no victims and whose
    clauses admit no rows (delete-only batch of keys absent from the
    table) returns the CURRENT snapshot id with NO new commit record,
    data dir, or manifest copy — Delta's no-op MERGE behavior."""
    from replicadb_spark.fs import TableFS, join as fs_join
    from replicadb_spark.operators.snapshot_table import current_snapshot

    path = _uri(tmp_path, "mg_noop")
    snapshot_commit(
        _df(spark, TABLE).repartitionByRange(2, "id"),
        path, stat_columns=["id"],
    )
    fs = TableFS(spark, path)
    before_snaps = fs.list_names(fs_join(path, "snapshots"))
    before_data = fs.list_names(fs_join(path, "data"))
    sid = snapshot_merge(
        spark, path,
        spark.createDataFrame([(99,), (100,)], "id long"),
        pk_columns=["id"], when_matched="delete", when_not_matched=None,
        prune_column="id",
    )
    assert sid == 1 == current_snapshot(path)
    assert fs.list_names(fs_join(path, "snapshots")) == before_snaps
    assert fs.list_names(fs_join(path, "data")) == before_data
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == dict(TABLE)


def test_merge_with_unpruned_victims_still_commits(spark, tmp_path):
    """The no-op short-circuit must NOT fire when victims exist: a
    by-source-delete merge of an empty-overlap batch still rewrites
    (it deletes the whole table domain) — a real state change."""
    path = _uri(tmp_path, "mg_notnoop")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    sid = snapshot_merge(
        spark, path, _df(spark, [(99, 990)]), pk_columns=["id"],
        when_matched="update", when_not_matched=None,
        not_matched_by_source="delete",
    )
    assert sid == 2
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {}  # nothing matched, everything else deleted


def test_merge_evolve_adds_column_in_one_call(spark, tmp_path):
    """VERDICT r12 item 3: a staging batch carrying a NEW column merges
    with evolve=True in ONE call — the column lands in the pinned
    schema, untouched rows read null, and the non-delegated clause
    path (delete_when) evolves too."""
    from pyspark.sql.types import StructType

    from replicadb_spark.operators.snapshot_table import snapshot_schema

    path = _uri(tmp_path, "mg_evolve")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    chg = spark.createDataFrame(
        [(1, 0, None, "D"), (2, 22, "eu", "U"), (7, 70, "us", "I")],
        "id long, v long, region string, op string",
    )
    snapshot_merge(
        spark, path, chg, pk_columns=["id"],
        delete_when=F.col("op") == "D",
        evolve=True, evolve_exclude=("op",),
    )
    cur = snapshot_read(spark, path)
    assert cur.columns == ["id", "v", "region"]  # op excluded, region added
    got = {r["id"]: (r["v"], r["region"]) for r in cur.collect()}
    assert got == {2: (22, "eu"), 3: (30, None), 7: (70, "us")}
    pinned = snapshot_schema(path)
    assert isinstance(pinned, StructType)
    assert pinned.fieldNames() == ["id", "v", "region"]
    # without evolve, the same batch must still demand the old contract
    # (extra column silently dropped, table schema unchanged)
    snapshot_merge(
        spark, path,
        spark.createDataFrame(
            [(8, 80, "jp", 1.0, "I")],
            "id long, v long, region string, extra double, op string",
        ),
        pk_columns=["id"], delete_when=F.col("op") == "D",
    )
    assert snapshot_read(spark, path).columns == ["id", "v", "region"]


def test_merge_evolve_requires_row_adding_clause(spark, tmp_path):
    path = _uri(tmp_path, "mg_evolve_val")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    with pytest.raises(ValueError, match="row-adding clause"):
        snapshot_merge(
            spark, path, spark.createDataFrame([(1,)], "id long"),
            pk_columns=["id"], when_matched="delete", when_not_matched=None,
            evolve=True,
        )


def test_merge_evolve_delegates_to_upsert_evolution(spark, tmp_path):
    """The (update, insert, keep) combination delegates to
    snapshot_upsert — evolve must ride the delegation."""
    path = _uri(tmp_path, "mg_evolve_del")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    sid = snapshot_merge(
        spark, path,
        spark.createDataFrame([(2, 22, 9.5)], "id long, v long, score double"),
        pk_columns=["id"], evolve=True,
    )
    rec = snapshot_record(path, sid)
    assert rec["operation"] == "upsert"
    got = {r["id"]: (r["v"], r["score"])
           for r in snapshot_read(spark, path).collect()}
    assert got == {1: (10, None), 2: (22, 9.5), 3: (30, None)}


def test_merge_update_columns_partial_update(spark, tmp_path):
    """r13 column-subset SET: a changelog carrying only pk+listed
    columns updates just those columns on matched rows (staging NULLs
    overwrite — SET is verbatim), inserts fill unlisted columns with
    NULL, and the clause record carries the subset."""
    path = _uri(tmp_path, "mg_uc")
    snapshot_commit(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "id long, v long, tag string",
        ),
        path, stat_columns=["id"],
    )
    sid = snapshot_merge(
        spark, path,
        spark.createDataFrame(
            [(2, 22), (3, None), (7, 70)], "id long, v long"
        ),
        pk_columns=["id"], when_matched="update", when_not_matched="insert",
        update_columns=["v"],
    )
    got = {r["id"]: (r["v"], r["tag"])
           for r in snapshot_read(spark, path).collect()}
    assert got == {
        1: (10, "a"),       # untouched
        2: (22, "b"),       # v updated, tag kept
        3: (None, "c"),     # staging NULL overwrites v, tag kept
        7: (70, None),      # insert: unlisted tag filled with NULL
    }
    rec = snapshot_record(path, sid)
    assert rec["clauses"]["update_columns"] == ["v"]
    assert snapshot_read(spark, path, snapshot_id=1).count() == 3


def test_merge_update_columns_with_delete_when(spark, tmp_path):
    """Composition: one partial-update CDC batch — tombstones evict,
    updates touch only the listed column — in ONE commit."""
    path = _uri(tmp_path, "mg_uc_dw")
    snapshot_commit(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "id long, v long, tag string"
        ),
        path, stat_columns=["id"],
    )
    chg = spark.createDataFrame(
        [(1, 0, "D"), (2, 22, "U")], "id long, v long, op string"
    )
    snapshot_merge(
        spark, path, chg, pk_columns=["id"],
        delete_when=F.col("op") == "D", update_columns=["v"],
    )
    got = {r["id"]: (r["v"], r["tag"])
           for r in snapshot_read(spark, path).collect()}
    assert got == {2: (22, "b")}


def test_merge_update_columns_validation(spark, tmp_path):
    path = _uri(tmp_path, "mg_uc_val")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    kv = spark.createDataFrame([(1, 5)], "id long, v long")
    with pytest.raises(ValueError, match="requires when_matched"):
        snapshot_merge(spark, path, kv, pk_columns=["id"],
                       when_matched="delete", when_not_matched=None,
                       update_columns=["v"])
    with pytest.raises(ValueError, match="non-empty"):
        snapshot_merge(spark, path, kv, pk_columns=["id"],
                       update_columns=[])
    with pytest.raises(ValueError, match="key columns cannot be updated"):
        snapshot_merge(spark, path, kv, pk_columns=["id"],
                       update_columns=["id"])
    with pytest.raises(ValueError, match="pass evolve=True"):
        snapshot_merge(
            spark, path,
            spark.createDataFrame([(1, 5)], "id long, extra long"),
            pk_columns=["id"], update_columns=["extra"],
        )


def test_merge_update_columns_evolve_adds_only_listed(spark, tmp_path):
    """evolve + update_columns: only the LISTED new column evolves in;
    other staging columns (the op metadata) stay out without needing
    evolve_exclude."""
    path = _uri(tmp_path, "mg_uc_evo")
    snapshot_commit(_df(spark, TABLE), path, stat_columns=["id"])
    chg = spark.createDataFrame(
        [(2, "eu", "U"), (9, "us", "U")],
        "id long, region string, op string",
    )
    snapshot_merge(
        spark, path, chg, pk_columns=["id"],
        when_matched="update", when_not_matched="insert",
        update_columns=["region"], evolve=True,
    )
    cur = snapshot_read(spark, path)
    assert cur.columns == ["id", "v", "region"]  # op never evolves in
    got = {r["id"]: (r["v"], r["region"]) for r in cur.collect()}
    assert got == {1: (10, None), 2: (20, "eu"), 3: (30, None),
                   9: (None, "us")}


def test_update_columns_all_listed_agrees_with_full_row_on_unique_pk(
    spark, tmp_path
):
    """ADVICE r14-documented pk-uniqueness contract, pinned where it is
    testable: on a pk-UNIQUE table, the subset path listing EVERY
    non-pk column must produce byte-identical state to the full-row
    path — across random staging batches with updates, inserts, NULL
    overwrites, and delete_when tombstones. (On duplicate-pk tables
    the two paths diverge by documented design.)"""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(1414)
    for trial in range(3):
        seed_rows = [
            (i, rng.randint(0, 9), rng.choice("abc")) for i in range(1, 8)
        ]
        staging_rows = [
            (
                rng.randint(1, 11),
                rng.choice([rng.randint(10, 99), None]),
                rng.choice(["x", "y", None]),
                rng.choice(["U", "U", "D"]),
            )
            for _ in range(6)
        ]
        # MERGE assumes at most one staging row per key too
        seen, staging_uniq = set(), []
        for r in staging_rows:
            if r[0] not in seen:
                seen.add(r[0])
                staging_uniq.append(r)

        def run(update_columns):
            path = _uri(
                tmp_path, f"uc_vs_full_{trial}_{bool(update_columns)}"
            )
            snapshot_commit(
                spark.createDataFrame(
                    seed_rows, "id long, v long, tag string"
                ),
                path, stat_columns=["id"],
            )
            staging = spark.createDataFrame(
                staging_uniq, "id long, v long, tag string, op string"
            )
            snapshot_merge(
                spark, path, staging,
                pk_columns=["id"],
                when_matched="update", when_not_matched="insert",
                delete_when=F.col("op") == "D",
                update_columns=update_columns,
            )
            return {
                r["id"]: (r["v"], r["tag"])
                for r in snapshot_read(spark, path).collect()
            }

        assert run(["v", "tag"]) == run(None), (trial, staging_uniq)
