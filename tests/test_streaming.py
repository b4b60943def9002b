"""Structured Streaming twins, driven bounded via availableNow."""

import pytest

from pyspark.sql import functions as F

from replicadb_spark.streaming import pipeline as P


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Write sf0.001 events out as a streamable parquet directory."""
    from replicadb_spark.session import tables

    path = str(tmp_path_factory.mktemp("events_src"))
    ev = tables(spark, "/root/testdata/sf0.001", ("events",))["events"]
    ev.write.mode("overwrite").parquet(path)
    return path, spark.read.parquet(path).schema


def _run_to_memory(spark, df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_batch_admission_guard_property(spark, tmp_path):
    """The shared per-batch admission check (_should_apply), proven
    ONCE for all twins (VERDICT r13 item 6): empty batches are
    skipped; with a guard store, batch ids at or below the last
    committed id are replays and skipped, fresh ids are admitted; a
    guard pointed at a nonexistent store admits everything (first
    batch bootstraps). The parquet-state folds run without admission:
    an empty batch 0 still resets stale state."""
    from replicadb_spark.operators.snapshot_table import snapshot_commit

    empty = spark.createDataFrame([], "k long")
    rows = spark.createDataFrame([(1,)], "k long")
    store = str(tmp_path / "admission_store")

    # no guard: only emptiness decides
    assert P._should_apply(rows, 0)
    assert not P._should_apply(empty, 0)

    # a fold runs on an empty batch 0 and resets a planted stale state
    psi_state = str(tmp_path / "admission_psi_state")
    spark.createDataFrame([(1, 7, 99)], "bucket int, c long, last_batch long").write.parquet(psi_state)
    P._psi_merge_fn(psi_state, "value", [10.0])(
        spark.createDataFrame([], "value double"), 0
    )
    assert spark.read.parquet(psi_state).count() == 0

    # guard against a store that doesn't exist yet: admit (bootstrap)
    assert P._should_apply(rows, 0, guard_path=store)

    snapshot_commit(rows, store, meta={"batch_id": 4})
    for replayed in (0, 3, 4):
        assert not P._should_apply(rows, replayed, guard_path=store)
    assert P._should_apply(rows, 5, guard_path=store)
    # emptiness is checked before the guard — an empty replay is
    # skipped without reading the store
    assert not P._should_apply(empty, 9, guard_path=store)


def test_stream_tumbling_agg_matches_batch(spark, event_dir):
    path, schema = event_dir
    stream = P.read_event_stream(spark, path, schema)
    out = _run_to_memory(
        spark, P.stream_tumbling_agg(stream, window="1 hour"), "t_tumble", mode="append"
    )
    batch = (
        spark.read.parquet(path)
        .groupBy(F.date_trunc("hour", "ts").alias("b"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {(str(r["bucket_start"]), r["event_type"]): r["n"] for r in out.collect()}
    want = {(str(r["b"]), r["event_type"]): r["n"] for r in batch.collect()}
    # watermark may hold back the tail window; everything emitted must match
    assert got
    for k, v in got.items():
        assert want[k] == v


def test_stream_sessionize_counts(spark, event_dir):
    path, schema = event_dir
    stream = P.read_event_stream(spark, path, schema)
    out = _run_to_memory(spark, P.stream_sessionize(stream, gap="30 minutes"), "t_sess")
    rows = out.collect()
    assert rows
    # session integrity: end-start ≥ 0 and every user has ≥1 event
    assert all(r["n_events"] >= 1 for r in rows)
    assert all(r["session_end"] >= r["session_start"] for r in rows)


def test_stream_file_replica(spark, event_dir, tmp_path):
    path, schema = event_dir
    stream = P.read_event_stream(spark, path, schema)
    sink = str(tmp_path / "replica")
    ckpt = str(tmp_path / "ckpt")
    q = P.stream_file_replica(stream, sink, ckpt)
    q.awaitTermination(120)
    n_src = spark.read.parquet(path).count()
    n_dst = spark.read.parquet(sink).count()
    assert n_dst == n_src


def test_stream_incremental_upsert(spark, event_dir, tmp_path):
    """foreachBatch upsert: snapshot ends with one row per PK, the
    latest by ts — the streaming twin of incremental mode."""
    path, schema = event_dir
    stream = P.read_event_stream(spark, path, schema)
    sink = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ck2")
    q = P.stream_incremental_upsert(
        stream, sink, ckpt, pk_columns=["user_id", "event_type"], order_column="ts"
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    src = spark.read.parquet(path)
    # one row per (user, type), matching the batch keep-latest answer
    n_keys = src.select("user_id", "event_type").distinct().count()
    assert got.count() == n_keys
    from pyspark.sql import Window
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        src.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        .select("user_id", "event_type", "ts")
    )
    got_ts = {(r["user_id"], r["event_type"]): r["ts"] for r in got.collect()}
    for r in latest.collect():
        assert got_ts[(r["user_id"], r["event_type"])] == r["ts"]


def test_stream_dedup_first_seen_accumulates_across_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): a key recurring in both
    must carry its state across — cumulative dup_count, earliest
    first_ts — proving applyInPandasWithState keeps per-key state."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "dedup_src"
    src.mkdir()

    def write(name, keys, ts_base):
        tbl = pa.table({
            "event_id": pa.array(keys, pa.int64()),
            "ts": pa.array(
                [ts_base + i * 60_000_000 for i in range(len(keys))],
                pa.timestamp("us"),
            ),
        })
        pq.write_table(tbl, src / name)

    base = 1_700_000_000_000_000  # µs epoch
    write("f1.parquet", [1, 2, 2], base)                 # batch 1: key2 dup'd
    time.sleep(1.1)  # distinct mtimes → deterministic batch order
    write("f2.parquet", [2, 3], base + 3_600_000_000)    # batch 2: key2 again
    os.utime(src / "f2.parquet")

    from replicadb_spark.streaming import pipeline as P

    schema = spark.read.parquet(str(src)).schema
    stream = P.read_event_stream(
        spark, str(src), schema, max_files_per_trigger=1
    )
    out = _run_to_memory(
        spark,
        P.stream_dedup_first_seen(stream, key_col="event_id", watermark="10 seconds"),
        "t_dedup_state",
        mode="update",
    )
    rows = out.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["event_id"], []).append(r)

    # key 2 appeared in both batches → two emissions, dup_count 1 then 2
    assert sorted(r["dup_count"] for r in by_key[2]) == [1, 2]
    # its first_ts never regresses past the batch-1 minimum
    assert min(str(r["first_ts"]) for r in by_key[2]) == str(by_key[2][0]["first_ts"])
    # unique keys emit once with zero dups
    assert [r["dup_count"] for r in by_key[1]] == [0]
    assert [r["dup_count"] for r in by_key[3]] == [0]


def test_stream_sliding_agg_matches_batch(spark, event_dir):
    path, schema = event_dir
    stream = P.read_event_stream(spark, path, schema)
    out = _run_to_memory(
        spark,
        P.stream_sliding_agg(stream, window="10 minutes", slide="5 minutes"),
        "t_slide",
    )
    batch = (
        spark.read.parquet(path)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), "event_type", "n")
    )
    got = {(str(r["win_start"]), r["event_type"]): r["n_events"] for r in out.collect()}
    want = {(str(r["s"]), r["event_type"]): r["n"] for r in batch.collect()}
    assert got
    for k, v in got.items():
        assert want[k] == v
    # every event lands in exactly window/slide = 2 windows
    assert sum(want.values()) == 2 * spark.read.parquet(path).count()


def test_stream_interval_join_matches_batch(spark, event_dir):
    path, schema = event_dir
    clicks = P.read_event_stream(spark, path, schema).where(F.col("event_type") == "click")
    buys = P.read_event_stream(spark, path, schema).where(F.col("event_type") == "purchase")
    out = _run_to_memory(
        spark,
        P.stream_interval_join(clicks, buys, max_gap="10 minutes"),
        "t_ivjoin",
    )
    ev = spark.read.parquet(path)
    bc = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("k"), F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    bp = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("rk"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    want_df = bc.join(
        bp,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 minutes")),
    ).select("k", "l_id", "r_id")
    got = {(r["k"], r["l_id"], r["r_id"]) for r in out.collect()}
    want = {(r["k"], r["l_id"], r["r_id"]) for r in want_df.collect()}
    # watermark may hold back tail pairs; everything emitted must be a
    # true pair, and the bulk of the batch result must be emitted
    assert got <= want
    assert len(got) >= 0.9 * len(want) and got


def test_stream_sessionize_exact_batch_equivalence(spark, tmp_path):
    """Strict streaming↔batch equivalence for session_window: real data
    in micro-batch 1, a far-future sentinel in batch 2 pushes the
    watermark past every real session's close, so ALL real sessions
    must emit and equal the batch session_window result exactly."""
    import datetime as dt

    from replicadb_spark.session import tables

    src = tmp_path / "sess_src"
    src.mkdir()
    ev = tables(spark, "/root/testdata/sf0.001", ("events",))["events"].select(
        "user_id", "ts", "event_id", "event_type"
    )
    ev.coalesce(1).write.parquet(str(src / "p0"))
    schema = spark.read.parquet(str(src / "p0")).schema

    far = ev.agg(F.max("ts")).collect()[0][0] + dt.timedelta(days=30)
    spark.createDataFrame([(-1, far, -100, "click")], schema).coalesce(1).write.parquet(
        str(src / "p1")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = _run_to_memory(
        spark, P.stream_sessionize(stream, gap="30 minutes"), "t_sess_exact"
    )
    batch = (
        spark.read.parquet(str(src / "p0"))
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").alias("s"), F.col("sw.end").alias("e"), "n")
    )
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in out.collect()
        if r["user_id"] != -1
    }
    want = {(r["user_id"], str(r["s"]), str(r["e"]), r["n"]) for r in batch.collect()}
    assert got == want and got


def test_stream_interval_join_exact_batch_equivalence(spark, tmp_path):
    """Strict streaming↔batch equivalence for the interval join: all
    real data lands in micro-batch 1 (pairs emit eagerly, no cross-batch
    eviction possible) and a far-future sentinel file forms batch 2,
    advancing the watermark past every real row so any
    emission-at-watermark regression would surface as missing pairs.
    Result must EQUAL the batch interval join — no subset slack."""
    import datetime as dt

    from replicadb_spark.session import tables

    src = tmp_path / "ivj_src"
    src.mkdir()
    ev = (
        tables(spark, "/root/testdata/sf0.001", ("events",))["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .where(F.col("event_type").isin("click", "purchase"))
    )
    ev.coalesce(1).write.parquet(str(src / "p0"))
    schema = spark.read.parquet(str(src / "p0")).schema

    far = ev.agg(F.max("ts")).collect()[0][0]
    t_click = far + dt.timedelta(days=30)
    t_buy = t_click - dt.timedelta(hours=1)  # r_ts < l_ts → never pairs
    spark.createDataFrame(
        [(-1, t_click, -100, "click"), (-1, t_buy, -101, "purchase")], schema
    ).coalesce(1).write.parquet(str(src / "p1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = _run_to_memory(
        spark,
        P.stream_interval_join(
            stream.where(F.col("event_type") == "click"),
            stream.where(F.col("event_type") == "purchase"),
            max_gap="10 minutes",
        ),
        "t_ivjoin_exact",
    )

    real = spark.read.parquet(str(src / "p0"))
    bc = real.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("k"), F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    bp = real.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("rk"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    want = {
        (r["k"], r["l_id"], r["r_id"])
        for r in bc.join(
            bp,
            (F.col("k") == F.col("rk"))
            & (F.col("r_ts") > F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 minutes")),
        ).select("k", "l_id", "r_id").collect()
    }
    got = {(r["k"], r["l_id"], r["r_id"]) for r in out.collect() if r["k"] != -1}
    assert got == want and got


def test_stream_incremental_agg_matches_batch_recompute(spark, tmp_path):
    """Micro-batched partial-agg maintenance (maxFilesPerTrigger=1 over
    two source files): the final state must equal a full batch GROUP BY
    over everything — the algebraic merge is batch-split invariant."""
    from replicadb_spark.operators.rollup import agg_partials, finalize_partials
    from replicadb_spark.session import tables

    src = tmp_path / "agg_src"
    src.mkdir()
    ev = tables(spark, "/root/testdata/sf0.001", ("events",))["events"].select(
        "event_type", "value"
    )
    # two explicit files → two micro-batches
    ev.where(F.col("value") < 50).coalesce(1).write.mode("overwrite").parquet(
        str(src / "p0")
    )
    ev.where(F.col("value") >= 50).coalesce(1).write.mode("overwrite").parquet(
        str(src / "p1")
    )
    schema = spark.read.parquet(str(src / "p0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    state = str(tmp_path / "agg_state")
    q = P.stream_incremental_agg(
        stream, state, str(tmp_path / "agg_ck"),
        keys=["event_type"], value_col="value",
    )
    q.awaitTermination(120)

    got = {
        r.event_type: (r.cnt, round(r.total, 6), r.vmin, r.vmax)
        for r in finalize_partials(
            spark.read.parquet(state), ["event_type"]
        ).collect()
    }
    want = {
        r.event_type: (r.cnt, round(r.total, 6), r.vmin, r.vmax)
        for r in finalize_partials(
            agg_partials(ev, ["event_type"], "value"), ["event_type"]
        ).collect()
    }
    assert got == want


def test_stream_incremental_agg_fails_on_corrupt_state(spark, tmp_path):
    """A corrupt (non-empty, unreadable) state table must FAIL the
    micro-batch so the stream retries — not silently reset the
    maintained aggregate to the current batch's delta."""
    import pytest
    from pyspark.errors import StreamingQueryException

    src = tmp_path / "bad_src"
    src.mkdir()
    spark.createDataFrame([("a", 1.0)], "event_type string, value double") \
        .coalesce(1).write.parquet(str(src / "p0"))
    state = tmp_path / "bad_state"
    state.mkdir()
    (state / "part-00000-garbage.parquet").write_bytes(b"this is not parquet")

    schema = spark.read.parquet(str(src / "p0")).schema
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = P.stream_incremental_agg(
        stream, str(state), str(tmp_path / "bad_ck"),
        keys=["event_type"], value_col="value",
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    # state was not clobbered by the failing batch
    assert (state / "part-00000-garbage.parquet").read_bytes() == b"this is not parquet"


def test_stream_neardup_vs_corpus_batch_invariant(spark, tmp_path):
    """Micro-batch boundaries cannot change the near-dup result: the
    union of per-batch bipartite pairs equals one bipartite run over
    all streamed rows."""
    from replicadb_spark.functions.dedup import minhash_dedup_pairs_bipartite
    from replicadb_spark.session import tables

    docs = tables(spark, "/root/testdata/sf0.001", ("documents",))["documents"]
    corpus = docs.where(F.col("doc_id") < 250)
    incoming = docs.where(F.col("doc_id") >= 250)

    src = tmp_path / "nd_src"
    src.mkdir()
    # two files → two micro-batches with maxFilesPerTrigger=1
    incoming.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(src / "p0"))
    incoming.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(src / "p1"))
    schema = spark.read.parquet(str(src / "p0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = str(tmp_path / "nd_out")
    q = P.stream_neardup_vs_corpus(
        stream, corpus, out, str(tmp_path / "nd_ck"), threshold=0.5
    )
    q.awaitTermination(180)

    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in minhash_dedup_pairs_bipartite(
            corpus, incoming, "doc_id", "text",
            k=3, num_hashes=128, bands=64, threshold=0.5,
        ).collect()
    }
    assert got == want and got


def test_stream_bottomk_equals_batch_bottomk(spark, tmp_path):
    """The maintained KMV sample after streaming in 3 micro-batches is
    BIT-IDENTICAL to one batch bottom-k over all rows — the exact
    mergeability of hash-ranked bottom-k under any batch split."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "bk_src"
    src.mkdir()
    for i, lo in enumerate((0, 400, 800)):
        tbl = pa.table({
            "event_id": pa.array(range(lo, lo + 400), pa.int64()),
            "value": pa.array([float(x % 83) for x in range(lo, lo + 400)]),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    from replicadb_spark.operators.quantiles import bottomk_sample
    from replicadb_spark.streaming import pipeline as P

    schema = spark.read.parquet(str(src)).schema
    stream = P.read_event_stream(spark, str(src), schema, max_files_per_trigger=1)
    state = str(tmp_path / "bk_state")
    q = P.stream_bottomk_sample(
        stream, state, str(tmp_path / "bk_ckpt"),
        id_col="event_id", keep=["value"], k=128,
    )
    q.awaitTermination(120)

    streamed = {
        (r["__rk"], r["value"])
        for r in spark.read.parquet(state).collect()
    }
    full = spark.read.parquet(str(src))
    batch = {
        (r["__rk"], r["value"])
        for r in bottomk_sample(full, "event_id", k=128, keep=["value"]).collect()
    }
    assert streamed == batch and len(streamed) == 128


def test_stream_sketches_reset_stale_state_from_dead_checkpoint(spark, tmp_path):
    """A state parquet that SURVIVES while its checkpoint is recreated
    belongs to a dead lineage: the new lineage's batch ids restart at 0,
    so without the batch-0 wipe the heavy-hitter replay guard
    (applied >= batch_id) would silently no-op every batch forever and
    the bottom-k merge would blend two unrelated streams' samples."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "stale_src"
    src.mkdir()
    for i in range(2):
        tbl = pa.table({
            "event_id": pa.array(range(i * 100, i * 100 + 100), pa.int64()),
            "k": pa.array(["hot"] * 60 + [f"c{i}{j}" for j in range(40)]),
            "value": pa.array([float(j) for j in range(100)]),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")
    schema = spark.read.parquet(str(src)).schema

    # plant stale state claiming a far-future last_batch and a ghost key
    hh_state = str(tmp_path / "stale_hh_state")
    spark.createDataFrame(
        [("ghost", 10**9, 999)], "key string, est long, last_batch long"
    ).write.parquet(hh_state)
    stream = P.read_event_stream(spark, str(src), schema, max_files_per_trigger=1)
    q = P.stream_heavy_hitters(
        stream, hh_state, str(tmp_path / "stale_hh_ckpt"), key_col="k", k=8,
    )
    q.awaitTermination(120)
    ests = {r["key"]: r["est"] for r in spark.read.parquet(hh_state).collect()}
    assert "ghost" not in ests        # dead-lineage state was wiped
    assert ests.get("hot", 0) >= 120 - 200 / 9  # both batches applied

    # bottom-k: alien sample rows from the dead lineage must not blend in
    bk_state = str(tmp_path / "stale_bk_state")
    spark.createDataFrame(
        [(float(-1), -(10**17))], "value double, __rk long"
    ).write.parquet(bk_state)
    stream2 = P.read_event_stream(spark, str(src), schema, max_files_per_trigger=1)
    q2 = P.stream_bottomk_sample(
        stream2, bk_state, str(tmp_path / "stale_bk_ckpt"),
        id_col="event_id", keep=["value"], k=64,
    )
    q2.awaitTermination(120)
    vals = {r["value"] for r in spark.read.parquet(bk_state).collect()}
    assert -1.0 not in vals


def test_stream_outlier_profile_equals_batch_mad(spark, tmp_path):
    """Per-key KMV sample state streamed in 3 micro-batches, with
    k_per_key covering every key's full count: the profile read off the
    state must be BIT-IDENTICAL to batch mad_outlier_profile over all
    rows (exact mergeability); with a small k the sample median must
    still land near the true one."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.stats import mad_outlier_profile
    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "op_src"
    src.mkdir()
    for i, lo in enumerate((0, 400, 800)):
        ids = list(range(lo, lo + 400))
        tbl = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "k": pa.array(["a" if x % 2 else "b" for x in ids]),
            # mostly small values with planted spikes
            "value": pa.array(
                [float(x % 37) if x % 97 else 5000.0 for x in ids]
            ),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = P.read_event_stream(spark, str(src), schema, max_files_per_trigger=1)
    state = str(tmp_path / "op_state")
    q = P.stream_outlier_profile(
        stream, state, str(tmp_path / "op_ckpt"),
        key_col="k", id_col="event_id", value_col="value", k_per_key=2048,
    )
    q.awaitTermination(120)

    streamed = {
        r["key"]: (r["med"], r["mad"], r["n_outliers"])
        for r in P.outlier_profile_from_state(spark, state).collect()
    }
    full = spark.read.parquet(str(src))
    batch = {
        r["key"]: (r["med"], r["mad"], r["n_outliers"])
        for r in mad_outlier_profile(full, "k", "value").collect()
    }
    assert streamed == batch and set(streamed) == {"a", "b"}
    # the spikes actually registered as outliers
    assert all(v[2] > 0 for v in streamed.values())


def test_stream_heavy_hitters_superset_guarantee(spark, tmp_path):
    """After streaming 3 micro-batches, the ≤k-counter state must still
    contain EVERY key with true frequency > N/(k+1) (mergeable-
    summaries bound) — here a planted hot key at ~30% of the stream."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "hh_src"
    src.mkdir()
    for i in range(3):
        keys = ["hot"] * 150 + [f"cold_{i}_{j}" for j in range(350)]
        tbl = pa.table({"k": pa.array(keys, pa.string())})
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    from replicadb_spark.streaming import pipeline as P

    schema = spark.read.parquet(str(src)).schema
    stream = P.read_event_stream(spark, str(src), schema, max_files_per_trigger=1)
    state = str(tmp_path / "hh_state")
    q = P.stream_heavy_hitters(
        stream, state, str(tmp_path / "hh_ckpt"), key_col="k", k=16,
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(state).collect()
    assert len(rows) <= 16
    ests = {r["key"]: r["est"] for r in rows}
    # hot: true 450 of N=1500 > N/17 ≈ 88 → must survive, and its
    # estimate under-reports by at most N/(k+1)
    assert "hot" in ests
    assert 450 - 1500 / 17 <= ests["hot"] <= 450


def test_stream_kmv_equals_batch_kmv_with_duplicates(spark, tmp_path):
    """The maintained KMV distinct sketch after 3 micro-batches — with
    keys REPEATED across batches — is bit-identical to one batch
    kmv_distinct_sketch over all rows: the distinct-union merge makes
    both replays and genuine duplicates collapse."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "kmv_src"
    src.mkdir()
    # overlapping key ranges: 0..599, 300..899, 600..1199
    for i, lo in enumerate((0, 300, 600)):
        tbl = pa.table({
            "user_id": pa.array([x for x in range(lo, lo + 600)], pa.int64()),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    from replicadb_spark.operators.quantiles import (
        _kmv_estimate,
        kmv_distinct_sketch,
    )
    from replicadb_spark.streaming import pipeline as P

    schema = spark.read.parquet(str(src)).schema
    stream = P.read_event_stream(spark, str(src), schema, max_files_per_trigger=1)
    state = str(tmp_path / "kmv_state")
    q = P.stream_kmv_distinct(
        stream, state, str(tmp_path / "kmv_ckpt"), key_col="user_id", k=256,
    )
    q.awaitTermination(120)

    streamed = sorted(r["__rk"] for r in spark.read.parquet(state).collect())
    full = spark.read.parquet(str(src))
    batch = sorted(
        r["__rk"] for r in kmv_distinct_sketch(full, "user_id", k=256).collect()
    )
    assert streamed == batch and len(streamed) == 256
    # 1200 true distinct keys; k=256 → ~6% σ, assert a loose 25% band
    est = _kmv_estimate(streamed, 256)
    assert abs(est - 1200) <= 300


def test_stream_psi_matches_batch_psi(spark, tmp_path):
    """The maintained per-bucket histogram after 3 micro-batches yields
    the SAME PSI as one batch pass over all rows with the same fixed
    reference bounds — exact count mergeability."""
    import math
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "psi_src"
    src.mkdir()
    vals = [float((x * 37) % 100) for x in range(900)]
    for i in range(3):
        tbl = pa.table({"value": pa.array(vals[i * 300:(i + 1) * 300])})
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    from replicadb_spark.streaming import pipeline as P

    bounds = [20.0, 40.0, 60.0, 80.0]
    ref_props = {1: 0.3, 2: 0.2, 3: 0.2, 4: 0.2, 5: 0.1}

    schema = spark.read.parquet(str(src)).schema
    stream = P.read_event_stream(spark, str(src), schema, max_files_per_trigger=1)
    state = str(tmp_path / "psi_state")
    q = P.stream_psi_drift(
        stream, state, str(tmp_path / "psi_ckpt"),
        value_col="value", bounds=bounds,
    )
    q.awaitTermination(120)

    streamed_psi = P.psi_from_state(spark, state, ref_props, len(bounds) + 1)

    # batch reference: same bucketing over all 900 values in python
    counts = {}
    for v in vals:
        b = sum(1 for x in bounds if v > x) + 1
        counts[b] = counts.get(b, 0) + 1
    total = sum(counts.values())
    batch_psi = 0.0
    for b in range(1, len(bounds) + 2):
        pc = max(counts.get(b, 0) / total, 1e-6)
        pr = max(ref_props.get(b, 0.0), 1e-6)
        batch_psi += (pc - pr) * math.log(pc / pr)
    assert abs(streamed_psi - batch_psi) < 1e-12
    assert streamed_psi > 0.0  # the planted distribution does drift


def test_stream_psi_replay_guard_no_double_count(spark, tmp_path):
    """Counts are not set-semantic: re-delivering an applied batch id
    must be a no-op (the stream_heavy_hitters guard), or the histogram
    double-weights the batch. Drives the merge function directly with
    fabricated batch ids to simulate at-least-once redelivery."""
    from replicadb_spark.streaming.pipeline import _psi_merge_fn

    state = str(tmp_path / "psi_guard_state")
    merge = _psi_merge_fn(state, "value", [10.0, 20.0])

    b0 = spark.createDataFrame([(5.0,), (15.0,), (25.0,)], "value double")
    b1 = spark.createDataFrame([(5.0,), (25.0,)], "value double")
    merge(b0, 0)
    merge(b1, 1)
    after = sorted(
        (r["bucket"], r["c"]) for r in spark.read.parquet(state).collect()
    )
    assert after == [(1, 2), (2, 1), (3, 2)]

    # at-least-once redelivery of batch 1: MUST be a no-op
    merge(b1, 1)
    replayed = sorted(
        (r["bucket"], r["c"]) for r in spark.read.parquet(state).collect()
    )
    assert replayed == after

    # a genuinely new batch still applies
    merge(spark.createDataFrame([(15.0,)], "value double"), 2)
    final = sorted(
        (r["bucket"], r["c"]) for r in spark.read.parquet(state).collect()
    )
    assert final == [(1, 2), (2, 2), (3, 2)]


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_state_fold_leaves_no_persisted_blocks(spark, tmp_path):
    """A state fold writes its new state aside and swaps it in, so no
    batch leaves a checkpointed or cached RDD behind: a long stream
    must not pile up one batch's blocks per micro-batch."""
    merge = P._psi_merge_fn(str(tmp_path / "psi_blocks"), "value", [10.0])
    batch = spark.createDataFrame([(5.0,), (15.0,)], "value double")
    merge(batch, 0)
    before = _persistent_rdds(spark)
    for batch_id in (1, 2, 3):
        merge(batch, batch_id)
    assert _persistent_rdds(spark) == before


def test_state_fold_failed_write_keeps_previous_state(spark, tmp_path):
    """A batch whose state write fails part-way must leave the previous
    state readable and unchanged — a deleted state would read as absent
    on the next batch and silently reset the fold."""
    state = str(tmp_path / "psi_failed_write")
    merge = P._psi_merge_fn(state, "value", [10.0])
    merge(spark.createDataFrame([(5.0,), (15.0,)], "value double"), 0)
    merge(spark.createDataFrame([(25.0,)], "value double"), 1)

    def read():
        return sorted(
            (r["bucket"], r["c"], r["last_batch"])
            for r in spark.read.parquet(state).collect()
        )

    before = read()
    assert before == [(1, 1, 0), (2, 2, 1)]
    bad = spark.range(3).select(
        F.raise_error(F.lit("boom")).cast("double").alias("value")
    )
    with pytest.raises(Exception, match="boom"):
        merge(bad, 2)
    assert read() == before
    # and the next batch folds onto the intact state
    merge(spark.createDataFrame([(5.0,)], "value double"), 3)
    assert read() == [(1, 2, 3), (2, 2, 1)]


def test_stream_cdc_apply_equals_batch_apply(spark, tmp_path):
    """Applying an ordered changelog in 3 micro-batches yields the SAME
    snapshot as one batch apply_changelog over the concatenated log —
    per-key monotone sequence numbers make only the globally-latest op
    decide, whichever batch it arrived in."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.cdc import apply_changelog
    from replicadb_spark.streaming import pipeline as P

    # ordered changelog: inserts, then updates/deletes, then a
    # resurrection and more deletes — across 3 files (batches)
    log_rows = [
        # seq, op, id, val
        (1, "insert", 1, "a1"), (2, "insert", 2, "b1"), (3, "insert", 3, "c1"),
        (4, "update", 1, "a2"), (5, "delete", 2, None), (6, "insert", 4, "d1"),
        (7, "insert", 2, "b2"), (8, "delete", 3, None), (9, "update", 4, "d2"),
    ]
    src = tmp_path / "cdc_src"
    src.mkdir()
    for i in range(3):
        chunk = log_rows[i * 3:(i + 1) * 3]
        tbl = pa.table({
            "seq": pa.array([r[0] for r in chunk], pa.int64()),
            "op": pa.array([r[1] for r in chunk]),
            "id": pa.array([r[2] for r in chunk], pa.int64()),
            "val": pa.array([r[3] for r in chunk]),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = P.read_event_stream(spark, str(src), schema, max_files_per_trigger=1)
    snap = str(tmp_path / "cdc_snap")
    q = P.stream_cdc_apply(
        stream, snap, str(tmp_path / "cdc_ckpt"), keys=["id"],
    )
    q.awaitTermination(120)

    streamed = {
        (r["id"], r["val"]) for r in spark.read.parquet(snap).collect()
    }
    empty = spark.createDataFrame([], "id long, val string")
    full_log = spark.read.parquet(str(src))
    batch = {
        (r["id"], r["val"])
        for r in apply_changelog(empty, full_log, ["id"]).collect()
    }
    assert streamed == batch == {(1, "a2"), (2, "b2"), (4, "d2")}


def test_stream_cusum_equals_batch_fold(spark, tmp_path):
    """The streamed CUSUM state after 3 in-order micro-batches equals
    the batch cusum_profile fold over the full history — the
    non-associative recursion carried correctly across batches."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.stats import cusum_profile
    from replicadb_spark.streaming import pipeline as P

    # key "a" drifts upward (alerts); key "b" stays at target (none)
    rows = []
    for i in range(90):
        rows.append((i, "a", 10.0 + (3.0 if i >= 30 else 0.0)))
        rows.append((i, "b", 10.0))
    src = tmp_path / "cusum_src"
    src.mkdir()
    base = 1_700_000_000_000_000
    for f in range(3):
        chunk = rows[f * 60:(f + 1) * 60]
        tbl = pa.table({
            "ts": pa.array(
                [base + r[0] * 1_000_000 for r in chunk],
                pa.timestamp("us"),
            ),
            "event_type": pa.array([r[1] for r in chunk]),
            "value": pa.array([r[2] for r in chunk]),
        })
        pq.write_table(tbl, src / f"f{f}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{f}.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = P.read_event_stream(spark, str(src), schema, max_files_per_trigger=1)
    out = _run_to_memory(
        spark,
        P.stream_cusum_alerts(
            stream, key_col="event_type", value_col="value",
            target=10.0, slack=0.5, threshold=20.0,
        ),
        "t_cusum_state",
        mode="update",
    ).collect()
    # one row per key per batch; the LAST row per key (max n) is the
    # final state
    latest = {}
    for r in out:
        if r["key"] not in latest or r["n"] > latest[r["key"]]["n"]:
            latest[r["key"]] = r

    batch = {
        r["key"]: r
        for r in cusum_profile(
            spark.read.parquet(str(src)),
            "event_type",
            "value",
            order_cols=["ts"],
            target=10.0,
            slack=0.5,
            threshold=20.0,
        ).collect()
    }
    for k in ("a", "b"):
        assert latest[k]["n"] == batch[k]["n"] == 90
        assert latest[k]["n_alerts"] == batch[k]["n_alerts"]
        assert abs(latest[k]["max_s"] - batch[k]["max_s"]) < 1e-9
        assert abs(latest[k]["final_s"] - batch[k]["final_s"]) < 1e-9
    assert batch["a"]["n_alerts"] > 0 and batch["b"]["n_alerts"] == 0


def test_stream_asof_enrich_equals_batch_asof_join(spark, tmp_path):
    """The streamed as-of state join over 3 in-order micro-batch pairs
    equals one batch asof_join over the full history: facts before any
    dim version enrich to null, equal-timestamp versions are visible,
    and the latest version carried in state survives batches where the
    key has no dim rows."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.relational import asof_join
    from replicadb_spark.streaming import pipeline as P

    base = 1_700_000_000_000_000

    def us(sec):
        return base + sec * 1_000_000

    # (key, sec, price): dim versions; key k2 gets ONE early version
    dims = [
        [("k1", 10, 1.0), ("k2", 10, 9.0)],          # batch 0
        [("k1", 40, 2.0)],                            # batch 1
        [("k1", 70, 3.0)],                            # batch 2
    ]
    # (key, sec, qty): facts — include pre-dim (k1@5), tie (k1@40),
    # and a k2 fact two batches after its only dim version
    facts = [
        [("k1", 5, 100), ("k1", 20, 101)],
        [("k1", 40, 102), ("k2", 50, 103)],
        [("k1", 80, 104), ("k2", 90, 105)],
    ]

    ddir, fdir = tmp_path / "dims", tmp_path / "facts"
    ddir.mkdir(); fdir.mkdir()
    for i in range(3):
        for rows, path, vcol in ((dims[i], ddir, "price"), (facts[i], fdir, "qty")):
            tbl = pa.table({
                "uid": pa.array([r[0] for r in rows]),
                "ts": pa.array([us(r[1]) for r in rows], pa.timestamp("us")),
                vcol: pa.array([r[2] for r in rows],
                               pa.float64() if vcol == "price" else pa.int64()),
            })
            pq.write_table(tbl, path / f"f{i}.parquet")
        time.sleep(1.05)
        for path in (ddir, fdir):
            os.utime(path / f"f{i}.parquet")

    d_schema = spark.read.parquet(str(ddir)).schema
    f_schema = spark.read.parquet(str(fdir)).schema
    out = _run_to_memory(
        spark,
        P.stream_asof_enrich(
            P.read_event_stream(spark, str(fdir), f_schema, max_files_per_trigger=1),
            P.read_event_stream(spark, str(ddir), d_schema, max_files_per_trigger=1),
            on="uid", fact_ts="ts", dim_ts="ts",
            fact_cols=["qty"], payload=["price"],
        ),
        "t_asof_enrich",
        mode="append",
    ).collect()
    got = {r["qty"]: r["price"] for r in out}

    batch = asof_join(
        spark.read.parquet(str(fdir)),
        spark.read.parquet(str(ddir)),
        on="uid", left_ts="ts", right_ts="ts", payload=["price"],
    ).collect()
    want = {r["qty"]: r["price"] for r in batch}

    assert len(got) == 6
    assert got == want
    # spot semantics: pre-dim fact null, tie visible, state carried
    assert got[100] is None
    assert got[102] == 2.0
    assert got[105] == 9.0


def test_stream_semantic_dedup_equals_batch(spark, tmp_path):
    """The streaming SemDeDup screen over 3 ascending-id micro-batches,
    seeded with the batch operator's own codebook, produces EXACTLY the
    batch semantic_dedup verdicts (greedy MIS carried through per-cell
    kept-vector state)."""
    import os
    import time

    import pyarrow.parquet as pq

    from replicadb_spark.functions.dedup import semantic_dedup
    from replicadb_spark.functions.similarity import coarse_centroids
    from replicadb_spark.streaming import pipeline as P

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # near-orthogonal corpus (max pairwise cos ≈ 0.51): 0.3 bites
    threshold, n_cells = 0.3, 4

    batch = {
        (r["id"], r["cell"], r["kept"])
        for r in semantic_dedup(
            corpus, n_cells=n_cells, threshold=threshold
        ).collect()
    }
    assert any(not k for (_, _, k) in batch)  # the threshold really bites

    cents = [
        (r["cell"], list(r["cent_vec"]))
        for r in coarse_centroids(corpus, n_cells=n_cells).orderBy("cell").collect()
    ]

    src = tmp_path / "emb_stream"
    src.mkdir()
    pdf = corpus.orderBy("vec_id").toPandas()
    cut = len(pdf) // 3
    for i, chunk in enumerate((pdf[:cut], pdf[cut:2 * cut], pdf[2 * cut:])):
        import pyarrow as pa

        pq.write_table(pa.Table.from_pandas(chunk), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    stream = P.read_event_stream(
        spark, str(src), corpus.schema, max_files_per_trigger=1
    )
    out = _run_to_memory(
        spark,
        P.stream_semantic_dedup(stream, cents, threshold=threshold),
        "t_sem_dedup",
        mode="append",
    ).collect()
    got = {(r["id"], r["cell"], r["kept"]) for r in out}
    assert not any(r["saturated"] for r in out)
    assert got == batch


def test_stream_semantic_dedup_cap_saturates_not_grows(spark, tmp_path):
    """Past max_kept_per_cell the screen keeps emitting (kept=true,
    saturated=true) instead of growing state — the honest-cap contract."""
    import os
    import time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.streaming import pipeline as P

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(12, 8)).astype("float64")
    src = tmp_path / "emb_cap"
    src.mkdir()
    tbl = pa.table({
        "vec_id": pa.array(range(12), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs],
                              pa.list_(pa.float64())),
    })
    pq.write_table(tbl, src / "f0.parquet")
    os.utime(src / "f0.parquet")

    stream = P.read_event_stream(
        spark, str(src), spark.read.parquet(str(src)).schema
    )
    out = _run_to_memory(
        spark,
        P.stream_semantic_dedup(
            stream,
            [(0, [1.0] + [0.0] * 7)],  # one cell: everything lands in it
            threshold=0.99,            # orthogonal-ish: nothing dedups
            max_kept_per_cell=5,
        ),
        "t_sem_cap",
        mode="append",
    ).collect()
    assert len(out) == 12
    assert sum(r["saturated"] for r in out) == 12 - 5
    assert all(r["kept"] for r in out)  # cap keeps, never silently drops


def test_stream_cusum_tiebreak_is_deterministic(spark, tmp_path):
    """Same-timestamp rows fold in tiebreak_cols order (ADVICE r5):
    with a tiebreak column the stream matches the batch fold ordered by
    (ts, id) exactly — including n_alerts, which depends on fold order
    when a threshold crossing sits between two tied rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.stats import cusum_profile
    from replicadb_spark.streaming import pipeline as P

    base = 1_700_000_000_000_000
    # three rows at the SAME microsecond whose order decides the fold:
    # in id order the drifts are (+15, +15, -100) → S reaches 30, one
    # alert, reset; the reverse interleaving (+15, -100, +15) never
    # crosses 25 and alerts zero times — so passing proves the
    # tiebreak column, not luck
    rows = [
        (0, 0, 10.0), (1, 1, 25.0), (1, 2, 25.0), (1, 3, -90.0), (2, 4, 10.0),
    ]
    src = tmp_path / "cusum_ties"
    src.mkdir()
    tbl = pa.table({
        "ts": pa.array([base + r[0] * 1_000_000 for r in rows], pa.timestamp("us")),
        "event_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array(["a"] * len(rows)),
        "value": pa.array([r[2] for r in rows]),
    })
    pq.write_table(tbl, src / "f0.parquet")
    os.utime(src / "f0.parquet")

    stream = P.read_event_stream(
        spark, str(src), spark.read.parquet(str(src)).schema
    )
    out = _run_to_memory(
        spark,
        P.stream_cusum_alerts(
            stream, key_col="event_type", value_col="value",
            target=10.0, threshold=25.0, tiebreak_cols=("event_id",),
        ),
        "t_cusum_ties",
        mode="update",
    ).collect()
    got = max(out, key=lambda r: r["n"])

    want = cusum_profile(
        spark.read.parquet(str(src)), "event_type", "value",
        order_cols=["ts", "event_id"], target=10.0, threshold=25.0,
    ).collect()[0]
    assert got["n"] == want["n"] == 5
    assert got["n_alerts"] == want["n_alerts"] == 1
    assert abs(got["final_s"] - want["final_s"]) < 1e-9
    assert abs(got["max_s"] - want["max_s"]) < 1e-9


def test_stream_dq_monitor_matches_batch_run_checks(spark, tmp_path):
    """The cumulative rule-count state after 3 micro-batches yields the
    SAME (rule, metric, threshold, passed) report as one batch
    run_checks over all rows — exact count mergeability for the
    mergeable rule subset."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators import dq
    from replicadb_spark.streaming import pipeline as P

    rules = [
        dq.not_null("event_type"),
        dq.in_range("value", -1000.0, 1000.0),
        dq.satisfies("value_nonneg", F.col("value") >= 0, min_ratio=0.4),
        dq.at_least(100),
    ]
    src = tmp_path / "dq_src"
    src.mkdir()
    rows = [(f"t{i % 3}" if i % 17 else None, float(i - 40)) for i in range(120)]
    for f in range(3):
        chunk = rows[f * 40:(f + 1) * 40]
        tbl = pa.table({
            "event_type": pa.array([r[0] for r in chunk]),
            "value": pa.array([r[1] for r in chunk]),
        })
        pq.write_table(tbl, src / f"f{f}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{f}.parquet")

    state = str(tmp_path / "dq_state")
    stream = P.read_event_stream(
        spark, str(src), spark.read.parquet(str(src)).schema,
        max_files_per_trigger=1,
    )
    q = P.stream_dq_monitor(
        stream, state, str(tmp_path / "dq_ckpt"), rules=rules
    )
    q.awaitTermination(120)

    got = [tuple(r) for r in P.dq_report(spark, state, rules).collect()]
    want = [
        tuple(r)
        for r in dq.run_checks(spark.read.parquet(str(src)), rules).collect()
    ]
    assert got == want
    # the planted data really exercises both outcomes
    status = {r[0]: r[3] for r in got}
    assert status["not_null(event_type)"] is False  # every 17th is null
    assert status["at_least(100)"] is True


def test_stream_dq_monitor_replay_guard_and_unique_refusal(spark, tmp_path):
    """Count merging is not idempotent: redelivering an applied batch id
    must no-op. unique() rules must be refused loudly (distinct does
    not fold through partial counts)."""
    import pytest as _pytest

    from replicadb_spark.operators import dq
    from replicadb_spark.streaming.pipeline import (
        _dq_merge_fn,
        dq_report,
        stream_dq_monitor,
    )

    rules = [dq.not_null("v"), dq.at_least(5)]
    state = str(tmp_path / "dq_replay_state")
    merge = _dq_merge_fn(state, rules)
    b0 = spark.createDataFrame([(1,), (None,)], "v int")
    b1 = spark.createDataFrame([(3,), (4,)], "v int")
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # at-least-once redelivery: must not double-count
    rep = {r["rule"]: r for r in dq_report(spark, state, rules).collect()}
    assert rep["not_null(v)"]["metric"] == 0.75  # 3 of 4, not 5 of 6
    assert rep["at_least(5)"]["passed"] is False

    with _pytest.raises(ValueError, match="unique"):
        stream_dq_monitor(
            spark.readStream.format("rate").load(),
            state, "x", rules=[dq.unique("v")],
        )


def test_stream_dedup_state_ttl_evicts_idle_keys(spark, tmp_path):
    """EventTimeTimeout + state_ttl_ms really evicts: a key idle past
    its TTL while the watermark advances is forgotten, so its
    recurrence starts a FRESH state (dup_count back to 0) — while a key
    that stayed active keeps accumulating. This drives the timeout
    branch end-to-end (the ADVICE-r5 dead-code concern, inverted)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "ttl_src"
    src.mkdir()
    base = 1_700_000_000_000_000
    HOUR = 3_600_000_000
    batches = [
        [(1, base), (2, base)],            # A=1 and B=2 appear
        [(2, base + 2 * HOUR)],            # B active; watermark → +2h
        [(2, base + 4 * HOUR)],            # A's ttl expired < watermark → evict A
        [(1, base + 6 * HOUR), (2, base + 6 * HOUR)],  # A returns, B continues
    ]
    for i, rows in enumerate(batches):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    stream = P.read_event_stream(
        spark, str(src), spark.read.parquet(str(src)).schema,
        max_files_per_trigger=1,
    )
    out = _run_to_memory(
        spark,
        P.stream_dedup_first_seen(
            stream, key_col="event_id", watermark="0 seconds",
            state_ttl_ms=1_000,  # 1s TTL << the 2h gaps
        ),
        "t_dedup_ttl",
        mode="update",
    ).collect()
    a_rows = sorted(
        (r for r in out if r["event_id"] == 1), key=lambda r: str(r["first_ts"])
    )
    # A emitted twice; the SECOND emission restarted from scratch:
    # dup_count 0 again and first_ts = the +6h recurrence, not base
    assert [r["dup_count"] for r in a_rows] == [0, 0]
    assert len({str(r["first_ts"]) for r in a_rows}) == 2
    # B never idled past TTL: 4 appearances accumulated into dup_count 3
    b_final = max((r for r in out if r["event_id"] == 2), key=lambda r: r["dup_count"])
    assert b_final["dup_count"] == 3
    assert str(b_final["first_ts"]).startswith("2023")  # original first seen


def test_stream_file_replica_survives_schema_drift_across_restarts(spark, tmp_path):
    """Replication restart after upstream schema evolution (the
    schema_drift_union scenario, continuous form): run the replica,
    stop, restart on the SAME checkpoint with a widened source schema —
    the sink must hold every row from both eras, readable as one frame
    with the union schema (old rows null in the new column). The
    reference's flat-insert replication breaks here; the parquet sink's
    per-file schema + mergeSchema read is the Spark-native answer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "drift_src"
    src.mkdir()
    sink, ckpt = str(tmp_path / "drift_sink"), str(tmp_path / "drift_ck")

    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}), src / "era1.parquet"
    )
    s1 = spark.readStream.schema("id long").parquet(str(src))
    P.stream_file_replica(s1, sink, ckpt).awaitTermination(120)

    # upstream evolves: a new column appears in era-2 files
    pq.write_table(
        pa.table({
            "id": pa.array([3, 4], pa.int64()),
            "source": pa.array(["web", "app"]),
        }),
        src / "era2.parquet",
    )
    s2 = spark.readStream.schema("id long, source string").parquet(str(src))
    P.stream_file_replica(s2, sink, ckpt).awaitTermination(120)

    got = spark.read.option("mergeSchema", "true").parquet(sink)
    rows = {r["id"]: r["source"] for r in got.collect()}
    # era-1 rows not re-replicated (checkpoint), era-2 appended
    assert rows == {1: None, 2: None, 3: "web", 4: "app"}


def test_stream_minhash_screen_verdicts_across_and_within_batches(spark, tmp_path):
    """Twin #22: the durable-store near-dup screen flags cross-batch AND
    intra-batch duplicates (lowest id wins), leaves fresh docs clean,
    and a full replay with a fresh checkpoint overwrites the verdict
    dirs with identical content (idempotence without a state guard)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from replicadb_spark.operators.dedup_index import build_minhash_index
    from replicadb_spark.streaming import pipeline as P

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = str(tmp_path / "mh_idx")
    build_minhash_index(docs, idx, k=3, num_hashes=128, bands=64)

    base5 = docs.where(F.col("doc_id") == 5).first()["text"]
    fresh_a = " ".join(f"fa{i}" for i in range(40))
    fresh_b = " ".join(f"fb{i}" for i in range(40))
    batches = [
        # batch 0: clone of corpus doc 5 (dup) + fresh text (clean)
        [(1000, base5 + " zz"), (1001, fresh_a)],
        # batch 1: clone of 1001 from the PREVIOUS batch (cross-batch dup)
        [(1002, fresh_a + " yy")],
        # batch 2: two clones of the same new text (intra-batch: lower
        # id kept, higher id dup)
        [(1003, fresh_b), (1004, fresh_b + " qq")],
    ]
    src = tmp_path / "doc_stream"
    src.mkdir()
    for i, rows in enumerate(batches):
        tbl = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    verd = str(tmp_path / "verdicts")
    q = P.stream_minhash_screen(
        stream, idx, verd, str(tmp_path / "ck1"), min_est_jaccard=0.5
    )
    q.awaitTermination(300)

    def read_verdicts():
        return {
            r["doc_id"]: (r["is_dup"], r["best_match_id"])
            for r in spark.read.option("basePath", verd).parquet(verd).collect()
        }

    got = read_verdicts()
    assert got[1000] == (True, 5)
    assert got[1001][0] is False
    assert got[1002] == (True, 1001)
    assert got[1003][0] is False
    assert got[1004] == (True, 1003)

    # full replay: fresh checkpoint, same source — verdicts identical
    # even though the store now holds every streamed doc (self-matches
    # and higher-id matches are filtered; re-appends collapse)
    q2 = P.stream_minhash_screen(
        stream, idx, verd, str(tmp_path / "ck2"), min_est_jaccard=0.5
    )
    q2.awaitTermination(300)
    assert read_verdicts() == got


def test_stream_gopher_screen_equals_batch(spark, tmp_path):
    """Twin #23: the streamed screen over 2 micro-batches produces
    exactly the batch gopher_screen rows (stateless map-only twin
    through the exactly-once file sink)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from replicadb_spark.functions.text import gopher_screen
    from replicadb_spark.streaming import pipeline as P

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(
        F.col("doc_id") < 60
    ).select("doc_id", "source", "text")
    batch = {tuple(r) for r in gopher_screen(docs).collect()}

    src = tmp_path / "doc_stream"
    src.mkdir()
    pdf = docs.orderBy("doc_id").toPandas()
    cut = len(pdf) // 2
    for i, chunk in enumerate((pdf[:cut], pdf[cut:])):
        pq.write_table(pa.Table.from_pandas(chunk), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "screened")
    q = P.stream_gopher_screen(stream, out, str(tmp_path / "ck"))
    q.awaitTermination(300)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == batch and len(got) > 0


def test_stream_bucketed_replica_converges_and_replays(spark, tmp_path):
    """Twin #24: a changelog stream lands in the bucketed layout with
    last-wins-per-PK semantics across micro-batches (including a
    multi-update batch), the table keeps its bucket spec, and a full
    replay with a fresh checkpoint leaves the table unchanged."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.streaming import pipeline as P

    batches = [
        [(1, 10, 1), (2, 20, 2), (3, 30, 3)],          # initial load
        [(2, 22, 4), (4, 40, 5)],                      # update + insert
        [(1, 11, 6), (1, 12, 7), (5, 50, 8)],          # multi-update batch
    ]
    src = tmp_path / "cdc_stream"
    src.mkdir()
    for i, rows in enumerate(batches):
        tbl = pa.table({
            "k": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.int64()),
            "seq": pa.array([r[2] for r in rows], pa.int64()),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    def run(ck):
        stream = (
            spark.readStream.schema("k long, v long, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_bucketed_replica(
            stream, "t_strm_bucket", str(tmp_path / "tbl"),
            str(tmp_path / ck),
            pk_columns=["k"], bucket_cols=["k"], n_buckets=4,
            order_column="seq",
        )
        q.awaitTermination(300)

    spark.sql("DROP TABLE IF EXISTS t_strm_bucket")
    try:
        run("ck1")
        want = {1: 12, 2: 22, 3: 30, 4: 40, 5: 50}
        got = {r["k"]: r["v"] for r in spark.table("t_strm_bucket").collect()}
        assert got == want
        assert spark.table("t_strm_bucket").count() == 5
        # the table is still a real bucketed table (spec survives)
        ddl = "\n".join(
            str(r) for r in spark.sql("DESCRIBE FORMATTED t_strm_bucket").collect()
        )
        assert "4" in ddl and "Bucket" in ddl
        # full replay, fresh checkpoint: MERGE idempotence, no change
        run("ck2")
        got = {r["k"]: r["v"] for r in spark.table("t_strm_bucket").collect()}
        assert got == want
        assert spark.table("t_strm_bucket").count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS t_strm_bucket")


def test_stream_snapshot_ingest_exactly_once(spark, tmp_path):
    """Twin #25: 3 micro-batches become 3 atomic snapshot commits with
    time travel to each batch boundary, and a FULL replay with a fresh
    checkpoint commits nothing (the batch-id guard lives in the table's
    own commit log, so it survives write-side checkpoint loss)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_read,
        snapshot_record,
    )
    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "ingest_stream"
    src.mkdir()
    for i in range(3):
        tbl = pa.table({
            "id": pa.array(range(i * 10, i * 10 + 10), pa.int64()),
            "v": pa.array([i] * 10, pa.int64()),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    table = str(tmp_path / "snap_tbl")

    def run(ck):
        stream = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_snapshot_ingest(
            stream, table, str(tmp_path / ck), stat_columns=["id"]
        )
        q.awaitTermination(300)

    run("ck1")
    assert current_snapshot(table) == 3
    assert snapshot_read(spark, table).count() == 30
    # time travel to each batch boundary
    assert snapshot_read(spark, table, snapshot_id=1).count() == 10
    assert snapshot_read(spark, table, snapshot_id=2).count() == 20
    assert snapshot_record(table)["batch_id"] == 2

    # full replay, fresh checkpoint: every batch no-ops BEFORE writing
    run("ck2")
    assert current_snapshot(table) == 3
    assert snapshot_read(spark, table).count() == 30


def test_stream_snapshot_changes_cdc_out_exactly_once(spark, tmp_path):
    """Twin #27: the commit log IS the stream — insert/update/delete
    commits each emit one per-commit changelog into the OUT snapshot
    table, a compaction commit emits NOTHING, and a fresh-checkpoint
    replay re-delivers every commit record with zero new emissions
    (the source-snapshot-id watermark lives in the OUT table's own
    commit log)."""
    from pyspark.sql import functions as F

    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_commit,
        snapshot_compact,
        snapshot_delete,
        snapshot_read,
        snapshot_record,
        snapshot_upsert,
    )
    from replicadb_spark.streaming import pipeline as P

    tbl = str(tmp_path / "cdc_src_tbl")
    out = str(tmp_path / "cdc_feed")

    def pump(ck):
        q = P.stream_snapshot_changes(
            spark, tbl, out, str(tmp_path / ck), pk_columns=["id"]
        )
        q.awaitTermination(300)

    # commit 1: pure inserts
    snapshot_commit(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
        tbl, stat_columns=["id"],
    )
    pump("ck1")
    feed = snapshot_read(spark, out)
    assert {(r["id"], r["v"], r["_change_type"], r["_source_snapshot_id"])
            for r in feed.collect()} == {(1, 10, "insert", 1), (2, 20, "insert", 1)}

    # commit 2 (upsert: one update + one insert), commit 3 (delete)
    snapshot_upsert(
        spark, tbl,
        spark.createDataFrame([(2, 99), (3, 30)], "id long, v long"),
        pk_columns=["id"], prune_column="id",
    )
    snapshot_delete(spark, tbl, F.col("id") == 1, prune=("id", 1.0, 1.0))
    pump("ck1")
    rows = {
        (r["id"], r["v"], r["_change_type"], r["_source_snapshot_id"])
        for r in snapshot_read(spark, out).collect()
    }
    assert rows == {
        (1, 10, "insert", 1), (2, 20, "insert", 1),
        (2, 99, "update", 2), (3, 30, "insert", 2),
        (1, 10, "delete", 3),
    }
    # the feed is itself a snapshot table: one commit per source commit,
    # time travel to each emission boundary
    assert current_snapshot(out) == 3
    assert snapshot_read(spark, out, snapshot_id=1).count() == 2
    assert snapshot_record(out)["source_snapshot_id"] == 3

    # commit 4: compaction — identical content, MUST emit nothing
    assert snapshot_compact(spark, tbl, small_mb=64, target_files=1) == 4
    pump("ck1")
    assert current_snapshot(out) == 3
    assert snapshot_read(spark, out).count() == 5

    # fresh checkpoint: all 4 commit records re-delivered, every one
    # no-ops before any file lands (watermark in the OUT commit log)
    pump("ck_fresh")
    assert current_snapshot(out) == 3
    assert snapshot_read(spark, out).count() == 5


def test_stream_bucketed_snapshot_replica_converges_and_joins_shuffle_free(
    spark, tmp_path
):
    """Twin #28: continuous replication into the BUCKETED snapshot
    layout — converges to last-wins state, time travels to each batch
    boundary, replays no-op on a fresh checkpoint, and every retained
    boundary registers as a bucketed table whose self-join has zero
    Exchange."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.snapshot_bucketed import (
        snapshot_read_bucketed,
    )
    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_read,
        snapshot_record,
    )
    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "bkt_replica_stream"
    src.mkdir()
    batches = [
        [(k, k * 10) for k in range(10)],            # bootstrap
        [(k, k * 10 + 1) for k in range(5)]          # updates...
        + [(k, k * 10) for k in range(10, 15)],      # ...and inserts
        [(0, 999)],                                  # single-key update
    ]
    for i, rows in enumerate(batches):
        tbl = pa.table({
            "k": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.int64()),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    table = str(tmp_path / "bkt_snap_tbl")

    def run(ck):
        stream = (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_bucketed_snapshot_replica(
            stream, table, str(tmp_path / ck),
            pk_columns=["k"], bucket_cols=["k"], n_buckets=4,
        )
        q.awaitTermination(300)

    run("ck1")
    assert current_snapshot(table) == 3
    got = {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert len(got) == 15 and got[0] == 999 and got[4] == 41 and got[12] == 120
    assert snapshot_read(spark, table, snapshot_id=1).count() == 10
    assert snapshot_read(spark, table, snapshot_id=2).count() == 15
    rec = snapshot_record(table)
    assert rec["batch_id"] == 2 and len(rec["touched_buckets"]) == 1

    # fresh checkpoint: full replay, zero new commits
    run("ck2")
    assert current_snapshot(table) == 3

    # a mid-stream boundary still joins shuffle-free
    df = snapshot_read_bucketed(spark, table, snapshot_id=2)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    try:
        j = df.select("k", F.col("v").alias("lv")).join(
            df.select("k", F.col("v").alias("rv")), "k"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert j.count() == 15
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        )


def test_stream_snapshot_replica_converges_time_travels_and_replays(spark, tmp_path):
    """Twin #26: a changelog stream merges into the snapshot table with
    last-wins-per-PK semantics, time travel shows the table AS OF each
    batch, and a fresh-checkpoint replay commits nothing (batch-id
    guard in the commit log)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_read,
    )
    from replicadb_spark.streaming import pipeline as P

    batches = [
        [(1, 10, 1), (2, 20, 2), (3, 30, 3)],      # bootstrap commit
        [(2, 22, 4), (4, 40, 5)],                  # update + insert
        [(1, 11, 6), (1, 12, 7), (5, 50, 8)],      # multi-update batch
    ]
    src = tmp_path / "cdc_snap_stream"
    src.mkdir()
    for i, rows in enumerate(batches):
        tbl = pa.table({
            "k": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.int64()),
            "seq": pa.array([r[2] for r in rows], pa.int64()),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    table = str(tmp_path / "snap_replica")

    def run(ck):
        stream = (
            spark.readStream.schema("k long, v long, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_snapshot_replica(
            stream, table, str(tmp_path / ck),
            pk_columns=["k"], prune_column="k", order_column="seq",
        )
        q.awaitTermination(300)

    run("ck1")
    assert current_snapshot(table) == 3
    want = {1: 12, 2: 22, 3: 30, 4: 40, 5: 50}
    got = {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert got == want
    # AS OF batch boundaries
    assert {r["k"]: r["v"] for r in
            snapshot_read(spark, table, snapshot_id=1).collect()} == {
        1: 10, 2: 20, 3: 30}
    assert {r["k"]: r["v"] for r in
            snapshot_read(spark, table, snapshot_id=2).collect()} == {
        1: 10, 2: 22, 3: 30, 4: 40}
    # fresh-checkpoint replay: nothing commits, state unchanged
    run("ck2")
    assert current_snapshot(table) == 3
    assert {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()} == want


def test_stream_snapshot_replica_upsert_files_track_parallelism(spark, tmp_path):
    """The upsert's rewrite is sized by the data, not by
    ``spark.sql.shuffle.partitions``: a change batch of several hundred
    distinct keys goes through the order-column window (a shuffle at
    the configured width), yet the files the upsert adds stay within
    ``defaultParallelism`` plus one per rewritten victim file. A staging
    frame frozen at the shuffle width would add one file per non-empty
    shuffle partition."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_changed_files,
        snapshot_read,
    )
    from replicadb_spark.streaming import pipeline as P

    dp = spark.sparkContext.defaultParallelism
    width = max(200, 8 * dp)
    boot = [(k, k, 0) for k in range(600)]
    # 400 distinct keys: 300 updates (some twice, newest seq wins) and
    # 100 inserts
    change = [(k, -k, 1) for k in range(300, 700)]
    change += [(k, 10 * k, 2) for k in range(300, 700, 7)]
    src = tmp_path / "wide_src"
    src.mkdir()
    for i, rows in enumerate([boot, change]):
        pq.write_table(
            pa.table({
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "v": pa.array([r[1] for r in rows], pa.int64()),
                "seq": pa.array([r[2] for r in rows], pa.int64()),
            }),
            src / f"f{i}.parquet",
        )
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")
    table = str(tmp_path / "wide_replica")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        stream = (
            spark.readStream.schema("k long, v long, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_snapshot_replica(
            stream, table, str(tmp_path / "wide_ck"),
            pk_columns=["k"], prune_column="k", order_column="seq",
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert current_snapshot(table) == 2
    want = {k: k for k in range(300)}
    want.update({r[0]: r[1] for r in change})  # rows ordered by seq
    got = {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert got == want
    added, removed = snapshot_changed_files(spark, table, 1, 2)
    assert removed and len(added) <= dp + len(removed) < width // 2, (
        len(added), len(removed), dp, width,
    )


def test_stream_snapshot_replica_absorbs_schema_evolution(spark, tmp_path):
    """Twin #26 across a stream RESTART whose source grew a column:
    evolve=True forwards MERGE-with-schema-evolution to the snapshot
    upsert — older snapshots keep their pinned schemas, untouched rows
    read the new column as null, and the batch-id guard still holds."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_read,
        snapshot_schema,
    )
    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "evo_src"
    src.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                  "v": pa.array([10, 20, 30], pa.int64())}),
        src / "f0.parquet",
    )
    table = str(tmp_path / "evo_replica")
    ck = str(tmp_path / "evo_ck")
    q = P.stream_snapshot_replica(
        spark.readStream.schema("k long, v long").parquet(str(src)),
        table, ck, pk_columns=["k"], prune_column="k",
    )
    q.awaitTermination(300)
    assert current_snapshot(table) == 1

    # a new file lands with a grown 'tag' column; the stream restarts
    # on the SAME checkpoint (batch ids continue) with the wider schema
    pq.write_table(
        pa.table({"k": pa.array([2, 4], pa.int64()),
                  "v": pa.array([22, 40], pa.int64()),
                  "tag": pa.array(["x", "y"], pa.string())}),
        src / "f1.parquet",
    )
    time.sleep(1.05)
    os.utime(src / "f1.parquet")
    q = P.stream_snapshot_replica(
        spark.readStream.schema("k long, v long, tag string")
        .parquet(str(src)),
        table, ck, pk_columns=["k"], prune_column="k",
        evolve=True,
    )
    q.awaitTermination(300)
    assert current_snapshot(table) == 2
    cur = snapshot_read(spark, table)
    assert cur.columns == ["k", "v", "tag"]
    got = {r["k"]: (r["v"], r["tag"]) for r in cur.collect()}
    assert got == {1: (10, None), 2: (22, "x"), 3: (30, None), 4: (40, "y")}
    # snapshot 1 keeps its pre-evolution pinned schema
    assert snapshot_schema(table, 1).fieldNames() == ["k", "v"]
    assert snapshot_read(spark, table, snapshot_id=1).columns == ["k", "v"]


def test_stream_dsir_screen_equals_batch(spark, tmp_path):
    """Twin #29: DSIR screening over 2 micro-batches reproduces the
    batch dsir_importance weights (to float jitter — the stream sums
    per occurrence, the batch per bucket) and identical keep verdicts
    through the exactly-once file sink."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from replicadb_spark.functions.text import (
        dsir_importance,
        dsir_logratio_table,
    )
    from replicadb_spark.streaming import pipeline as P

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("doc_id") < 60)
        .select("doc_id", "source", "text")
    )
    is_tgt = F.col("source") == "src0"
    lr = dsir_logratio_table(docs, "doc_id", "text", is_tgt, n_buckets=64)
    assert lr.count() == 64  # DENSE over the bucket space
    batch = {
        r["id"]: r
        for r in dsir_importance(
            docs, "doc_id", "text", is_tgt, n_buckets=64
        ).collect()
    }

    src = tmp_path / "dsir_stream"
    src.mkdir()
    pdf = docs.orderBy("doc_id").toPandas()
    cut = len(pdf) // 2
    for i, chunk in enumerate((pdf[:cut], pdf[cut:])):
        pq.write_table(pa.Table.from_pandas(chunk), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "dsir_screened")
    q = P.stream_dsir_screen(
        stream, lr, out, str(tmp_path / "dsck"), n_buckets=64, threshold=0.0
    )
    q.awaitTermination(300)
    got = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == set(batch) and len(got) > 0
    for i, b in batch.items():
        s = got[i]
        assert s["n_terms"] == b["n_terms"]
        assert abs(s["weight"] - b["weight_raw"]) < 1e-9
        assert s["keep"] == (b["weight_raw"] >= 0.0) or (
            abs(b["weight_raw"]) < 1e-9
        )


def test_stream_bpe_tokenize_equals_batch(spark, tmp_path):
    """Twin #30: streamed BPE tokenization over 2 micro-batches equals
    the batch apply exactly (same broadcast merges, same Arrow kernel),
    including the token-ID arrays."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from replicadb_spark.functions.bpe import bpe_tokenize, train_bpe
    from replicadb_spark.streaming import pipeline as P

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    merges = train_bpe(docs, "text", "doc_id", n_merges=40, sample_docs=100)
    batch = {
        r["id"]: (r["n_tokens"], r["roundtrip_ok"], tuple(r["token_ids"]))
        for r in bpe_tokenize(
            docs, "doc_id", "text", merges, with_ids=True
        ).collect()
    }

    src = tmp_path / "bpe_stream"
    src.mkdir()
    pdf = docs.orderBy("doc_id").toPandas()
    cut = len(pdf) // 2
    for i, chunk in enumerate((pdf[:cut], pdf[cut:])):
        pq.write_table(pa.Table.from_pandas(chunk), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "bpe_tokens")
    q = P.stream_bpe_tokenize(
        stream, merges, out, str(tmp_path / "bpck"), with_ids=True
    )
    q.awaitTermination(300)
    got = {
        r["id"]: (r["n_tokens"], r["roundtrip_ok"], tuple(r["token_ids"]))
        for r in spark.read.parquet(out).collect()
    }
    assert got == batch and len(got) > 0
    assert all(v[1] for v in got.values())  # round-trip exact everywhere


def test_stream_snapshot_cdc_replica_deletes_in_one_commit(spark, tmp_path):
    """Twin #31: a full changelog stream (insert/update/DELETE) lands
    in the snapshot table with one atomic commit per batch — deletes
    and upserts from the same batch are never split across snapshots —
    and a fresh-checkpoint replay commits nothing."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_read,
    )
    from replicadb_spark.streaming import pipeline as P

    batches = [
        # bootstrap: one tombstone for a not-yet-existing key is a no-op
        [(1, 10, "I", 1), (2, 20, "I", 2), (9, 0, "D", 3)],
        # same batch: delete 1, update 2, insert 4
        [(1, 0, "D", 4), (2, 22, "U", 5), (4, 40, "I", 6)],
        # per-key last-wins: 4 upserted then deleted; 5 deleted then inserted
        [(4, 44, "U", 7), (4, 0, "D", 8), (5, 0, "D", 9), (5, 50, "I", 10)],
    ]
    src = tmp_path / "cdc_del_stream"
    src.mkdir()
    for i, rows in enumerate(batches):
        tbl = pa.table({
            "k": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.int64()),
            "op": pa.array([r[2] for r in rows], pa.string()),
            "seq": pa.array([r[3] for r in rows], pa.int64()),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    table = str(tmp_path / "cdc_replica")

    def run(ck):
        stream = (
            spark.readStream.schema("k long, v long, op string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_snapshot_cdc_replica(
            stream, table, str(tmp_path / ck),
            pk_columns=["k"], op_col="op", prune_column="k",
            order_column="seq",
        )
        q.awaitTermination(300)

    run("ck1")
    assert current_snapshot(table) == 3  # exactly one commit per batch
    got = {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert got == {2: 22, 5: 50}
    assert "op" not in snapshot_read(spark, table).columns
    # AS OF batch boundaries: the delete+upsert batch is ONE snapshot
    assert {r["k"]: r["v"] for r in
            snapshot_read(spark, table, snapshot_id=1).collect()} == {
        1: 10, 2: 20}
    assert {r["k"]: r["v"] for r in
            snapshot_read(spark, table, snapshot_id=2).collect()} == {
        2: 22, 4: 40}
    # fresh-checkpoint replay: batch-id guard, nothing commits
    run("ck2")
    assert current_snapshot(table) == 3
    assert {r["k"]: r["v"]
            for r in snapshot_read(spark, table).collect()} == {2: 22, 5: 50}


def test_stream_snapshot_cdc_replica_evolves_schema_mid_stream(spark, tmp_path):
    """Twin #31 + evolve (r13): a changelog whose schema GROWS after a
    restart merges the new column in the same one-commit-per-batch
    shape — old rows read the column as null, the op/seq metadata stay
    out of the table, the checkpoint carries offsets across the
    restart, and the result equals applying the same net batches via
    the batch-side snapshot_merge."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_read,
        snapshot_schema,
    )
    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "cdc_evo_stream"
    src.mkdir()

    def write(i, rows, with_region):
        cols = {
            "k": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.int64()),
        }
        if with_region:
            cols["region"] = pa.array([r[4] for r in rows], pa.string())
        cols["op"] = pa.array([r[2] for r in rows], pa.string())
        cols["seq"] = pa.array([r[3] for r in rows], pa.int64())
        pq.write_table(pa.table(cols), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    # phase 1: the original 2-column changelog
    write(0, [(1, 10, "I", 1), (2, 20, "I", 2)], with_region=False)
    write(1, [(1, 0, "D", 3), (3, 30, "I", 4)], with_region=False)
    table = str(tmp_path / "cdc_evo_replica")
    ck = str(tmp_path / "cdc_evo_ck")

    def run(schema, evolve):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_snapshot_cdc_replica(
            stream, table, ck,
            pk_columns=["k"], op_col="op", prune_column="k",
            order_column="seq", evolve=evolve,
        )
        q.awaitTermination(300)

    run("k long, v long, op string, seq long", evolve=False)
    assert current_snapshot(table) == 2
    assert snapshot_read(spark, table).columns == ["k", "v"]

    # phase 2: the source migrated — a region column appears; restart
    # with the widened schema (old files read region as null)
    write(2, [(2, 22, "U", 5, "eu"), (4, 40, "I", 6, "us")],
          with_region=True)
    run("k long, v long, region string, op string, seq long", evolve=True)

    assert current_snapshot(table) == 3  # one commit for the new batch
    cur = snapshot_read(spark, table)
    assert cur.columns == ["k", "v", "region"]  # op/seq never evolve in
    got = {r["k"]: (r["v"], r["region"]) for r in cur.collect()}
    assert got == {2: (22, "eu"), 3: (30, None), 4: (40, "us")}
    assert snapshot_schema(table).fieldNames() == ["k", "v", "region"]
    # pre-evolution snapshots still read with their pinned 2-col schema
    assert snapshot_read(spark, table, snapshot_id=2).columns == ["k", "v"]

    # batch equivalence: the same net changelog applied through the
    # batch-side merge API yields the identical table
    from pyspark.sql import functions as F

    from replicadb_spark.operators.snapshot_table import (
        snapshot_commit,
        snapshot_merge,
    )

    btable = "file://" + str(tmp_path / "cdc_evo_batch")
    snapshot_commit(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        btable, stat_columns=["k"],
    )
    snapshot_merge(
        spark, btable,
        spark.createDataFrame([(1, 0, "D"), (3, 30, "I")],
                              "k long, v long, op string"),
        pk_columns=["k"], delete_when=F.col("op") == "D",
        prune_column="k",
    )
    snapshot_merge(
        spark, btable,
        spark.createDataFrame(
            [(2, 22, "eu", "U"), (4, 40, "us", "I")],
            "k long, v long, region string, op string",
        ),
        pk_columns=["k"], delete_when=F.col("op") == "D",
        prune_column="k", evolve=True, evolve_exclude=("op",),
    )
    bgot = {r["k"]: (r["v"], r["region"])
            for r in snapshot_read(spark, btable).collect()}
    assert bgot == got


def test_stream_snapshot_cdc_replica_partial_updates(spark, tmp_path):
    """Twin #31 + update_columns (r13): a partial-update changelog —
    key, changed column, op only — replicates onto a seeded replica:
    unlisted columns survive updates, inserts fill them with NULL,
    tombstones evict in the same commit, and an unseeded replica
    refuses (a partial changelog cannot define the schema)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_commit,
        snapshot_read,
    )
    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "cdc_pu_stream"
    src.mkdir()
    batches = [
        [(1, 11, "U", 1), (4, 40, "I", 2)],   # update v only; insert
        [(2, 0, "D", 3), (4, 44, "U", 4)],    # delete 2; bump 4
    ]
    for i, rows in enumerate(batches):
        pq.write_table(pa.table({
            "k": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.int64()),
            "op": pa.array([r[2] for r in rows], pa.string()),
            "seq": pa.array([r[3] for r in rows], pa.int64()),
        }), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    table = str(tmp_path / "cdc_pu_replica")

    def run(ck):
        stream = (
            spark.readStream.schema("k long, v long, op string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_snapshot_cdc_replica(
            stream, table, str(tmp_path / ck),
            pk_columns=["k"], op_col="op", prune_column="k",
            order_column="seq", update_columns=["v"],
        )
        q.awaitTermination(300)

    # unseeded replica refuses the partial changelog
    import pytest

    with pytest.raises(Exception, match="seed it with a full"):
        run("ck_refuse")
    assert current_snapshot(table) is None

    # seed with the full schema, then stream the partial updates
    snapshot_commit(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k long, v long, tag string",
        ),
        table, stat_columns=["k"],
    )
    run("ck1")
    assert current_snapshot(table) == 3  # seed + one commit per batch
    got = {r["k"]: (r["v"], r["tag"])
           for r in snapshot_read(spark, table).collect()}
    assert got == {
        1: (11, "a"),    # v updated, tag preserved
        3: (30, "c"),    # untouched
        4: (44, None),   # inserted with NULL tag, then bumped
    }
    # replay with a fresh checkpoint: batch-id guard, nothing commits
    run("ck2")
    assert current_snapshot(table) == 3


def test_stream_weighted_reservoir_equals_batch(spark, tmp_path):
    """Twin #32: the continuously-maintained weighted reservoir equals
    the batch operator over the full data after every batch (A-Res
    keys are pure functions of (seed, id, weight) and top-k is
    union-monotone); duplicate re-arrivals collapse to max weight; a
    fresh-checkpoint replay commits nothing new."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.sampling import weighted_reservoir_sample
    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_read,
    )
    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "wrs_stream"
    src.mkdir()
    batches = [
        [("a", i, 1 + i % 7) for i in range(15)],
        [("a", 100 + i, 3) for i in range(10)] + [("b", 200, 5)],
        # re-arrival of id 3 with a HIGHER weight + more b rows
        [("a", 3, 50)] + [("b", 201 + i, 1 + i) for i in range(6)],
    ]
    for i, rows in enumerate(batches):
        pq.write_table(pa.table({
            "grp": pa.array([r[0] for r in rows], pa.string()),
            "id": pa.array([r[1] for r in rows], pa.int64()),
            "w": pa.array([r[2] for r in rows], pa.int64()),
        }), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    store = str(tmp_path / "wrs_store")

    def run(ck):
        stream = (
            spark.readStream.schema("grp string, id long, w long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_weighted_reservoir(
            stream, store, str(tmp_path / ck),
            group_cols=["grp"], id_col="id", weight_col="w",
            k=5, seed="twin32",
        )
        q.awaitTermination(300)

    run("ck1")
    assert current_snapshot(store) == 3  # one overwrite per batch

    # batch reference over ALL rows with the same max-weight collapse
    flat = [r for b in batches for r in b]
    all_rows = spark.createDataFrame(flat, "grp string, id long, w long")
    from pyspark.sql import functions as F

    cand = all_rows.groupBy("grp", "id").agg(F.max("w").alias("w"))
    want = {
        (r["grp"], r["id"], r["w"], r["rsv_rank"])
        for r in weighted_reservoir_sample(
            cand, ["grp"], "id", "w", k=5, seed="twin32"
        ).collect()
    }
    got = {
        (r["grp"], r["id"], r["w"], r["rsv_rank"])
        for r in snapshot_read(spark, store).collect()
    }
    assert got == want and len(got) == 5 + 5  # both groups at k (b has 7)

    # every intermediate reservoir state is time-traveled
    assert snapshot_read(spark, store, snapshot_id=1).count() == 5  # a only

    run("ck2")  # replay: batch-id guard
    assert current_snapshot(store) == 3


def test_stream_weighted_reservoir_exact_under_weight_drift(spark, tmp_path):
    """ADVICE r13 (medium) adversarial schedule, REFUTED: id 1 arrives
    at w=1000, a flood of heavier ids evicts it, then it re-arrives at
    w=1 — the claim was that the forgotten w=1000 history diverges the
    sample from a one-shot batch replay. It cannot: k(w) = ln(u)/w is
    increasing in w, so the forgotten high key was dominated at
    eviction time by k composites that never decrease (proof in the
    stream_weighted_reservoir docstring). Streaming must equal the
    batch operator over max-collapsed history value-for-value."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from replicadb_spark.operators.sampling import weighted_reservoir_sample
    from replicadb_spark.operators.snapshot_table import snapshot_read
    from replicadb_spark.streaming import pipeline as P

    batches = [
        [("g", 1, 1000), ("g", 2, 900), ("g", 3, 800)],
        [("g", 100 + i, 10_000_000) for i in range(4)],  # evicts 1-3 at k=2
        [("g", 1, 1), ("g", 4, 2)],  # id 1 re-arrives LOWER
    ]
    src = tmp_path / "wrs_drift_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        pq.write_table(pa.table({
            "grp": pa.array([r[0] for r in rows], pa.string()),
            "id": pa.array([r[1] for r in rows], pa.int64()),
            "w": pa.array([r[2] for r in rows], pa.int64()),
        }), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    store = str(tmp_path / "wrs_drift_store")
    stream = (
        spark.readStream.schema("grp string, id long, w long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = P.stream_weighted_reservoir(
        stream, store, str(tmp_path / "wrs_drift_ck"),
        group_cols=["grp"], id_col="id", weight_col="w",
        k=2, seed="drift",
    )
    q.awaitTermination(300)

    flat = [r for b in batches for r in b]
    cand = (
        spark.createDataFrame(flat, "grp string, id long, w long")
        .groupBy("grp", "id").agg(F.max("w").alias("w"))
    )
    want = {
        (r["grp"], r["id"], r["w"], r["rsv_key"], r["rsv_rank"])
        for r in weighted_reservoir_sample(
            cand, ["grp"], "id", "w", k=2, seed="drift"
        ).collect()
    }
    got = {
        (r["grp"], r["id"], r["w"], r["rsv_key"], r["rsv_rank"])
        for r in snapshot_read(spark, store).collect()
    }
    assert got == want


def test_weighted_reservoir_fold_drift_property(spark):
    """Randomized form of the drift proof: the per-batch fold (union
    surviving reservoir + batch, max-collapse, re-take top-k) equals a
    one-shot batch over all arrivals, across random schedules with
    heavy weight drift, re-arrivals, and evictions. Drives the fold
    directly (no streaming machinery) so many schedules stay cheap."""
    import random

    from pyspark.sql import functions as F

    from replicadb_spark.operators.sampling import weighted_reservoir_sample

    rng = random.Random(1402)
    for trial in range(5):
        ids = list(range(1, rng.randint(6, 16)))
        schedule = [
            [
                ("g", i, rng.choice([1, 2, 5, 100, 1000, 10**6]))
                for i in rng.sample(ids, rng.randint(1, len(ids)))
            ]
            for _ in range(rng.randint(2, 4))
        ]
        k = rng.randint(1, 3)
        seed = f"fz{trial}"
        reservoir = None
        for rows in schedule:
            batch = spark.createDataFrame(rows, "grp string, id long, w long")
            inc = batch if reservoir is None else batch.unionByName(reservoir)
            cand = inc.groupBy("grp", "id").agg(F.max("w").alias("w"))
            reservoir = (
                weighted_reservoir_sample(
                    cand, ["grp"], "id", "w", k=k, seed=seed
                )
                .select("grp", "id", "w")
                .localCheckpoint(eager=True)
            )
        got = {(r["grp"], r["id"], r["w"]) for r in reservoir.collect()}
        flat = [r for b in schedule for r in b]
        alldf = (
            spark.createDataFrame(flat, "grp string, id long, w long")
            .groupBy("grp", "id").agg(F.max("w").alias("w"))
        )
        want = {
            (r["grp"], r["id"], r["w"])
            for r in weighted_reservoir_sample(
                alldf, ["grp"], "id", "w", k=k, seed=seed
            ).collect()
        }
        assert got == want, (trial, k, schedule)


def test_stream_phrase_counts_equals_batch(spark, tmp_path):
    """Twin #34: the delta-log collocation count store (one APPEND of
    batch counts per micro-batch + periodic compaction) equals batch
    phrase_scores over the concatenated corpus after every batch —
    checked on the final state AND a time-traveled intermediate (the
    per-prefix guarantee), with compaction fired mid-stream
    (compact_every=2) so the collapsed-log path is what's verified,
    plus the fresh-checkpoint replay guard. Per-batch APPEND cost is
    ∝ the batch's units — the store grows as a log, it is never
    rewritten outside compaction (pinned: the per-batch commits are
    'append')."""
    import os
    import time

    from replicadb_spark.functions.text import (
        phrase_scores,
        phrase_scores_from_counts,
    )
    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_history,
    )
    from replicadb_spark.streaming import pipeline as P

    batches = [
        [(1, "new york new york is new york"), (2, "a brand new day in york")],
        [(3, "new york again and again"), (4, "solo")],
        [(5, "york new york new day"), (6, "the day is new")],
    ]
    src = tmp_path / "phrase_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}")
        )
        # FileStreamSource orders by mtime; one dir per batch
        time.sleep(1.05)
        for f in (src / f"b{i}").iterdir():
            os.utime(f)

    store = str(tmp_path / "phrase_store")

    def run(ck):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = P.stream_phrase_counts(
            stream, store, str(tmp_path / ck), text_col="text",
            compact_every=2,
        )
        q.awaitTermination(300)

    run("ck1")
    n_commits = current_snapshot(store)
    assert n_commits >= 4  # 3 delta appends + ≥1 compaction overwrite
    ops = [
        (r["snapshot_id"], r["operation"])
        for r in snapshot_history(spark, store).collect()
    ]
    # the per-batch commits are APPENDS (delta log — the store is never
    # rewritten per batch); compaction is the only overwrite
    assert (int(ops[0][0]), ops[0][1]) == (1, "append")
    assert any(op == "overwrite" for _, op in ops)
    assert sum(1 for _, op in ops if op == "append") == 3
    # counter-based trigger: 3 admitted appends at compact_every=2 fire
    # exactly ONE compaction (after the 2nd append) — the snapshot-id
    # trigger this replaced fired after every batch from the second on
    assert sum(1 for _, op in ops if op == "overwrite") == 1
    assert [op for _, op in sorted(ops, key=lambda t: int(t[0]))] == [
        "append", "append", "overwrite", "append",
    ]

    def scores_from(snapshot_id=None):
        return {
            (r["w1"], r["w2"], r["n_pair"], r["score"])
            for r in phrase_scores_from_counts(
                P.phrase_counts_view(spark, store, snapshot_id=snapshot_id),
                delta=1.0, min_count=2,
            ).collect()
        }

    def batch_scores(n_batches):
        flat = [r for b in batches[:n_batches] for r in b]
        df = spark.createDataFrame(flat, "doc_id long, text string")
        out = {
            (r["w1"], r["w2"], r["n_pair"], r["score"])
            for r in phrase_scores(
                df, "text", delta=1.0, min_count=2
            ).collect()
        }
        from replicadb_spark.cache import release_caches

        release_caches(spark)
        return out

    assert scores_from() == batch_scores(len(batches))
    # per-prefix: the first committed state is batch 1 alone
    assert scores_from(snapshot_id=1) == batch_scores(1)

    run("ck2")  # fresh checkpoint: the replay guard skips every batch
    assert current_snapshot(store) == n_commits


def test_stream_phrase_counts_crash_between_spill_and_compact(
    spark, tmp_path, monkeypatch
):
    """Twin #34 compaction is two-phase: spill the summed view to the
    store's scratch dir, then overwrite-commit the read-back scan
    (VERDICT r14 item 3 — no localCheckpoint pinning the vocabulary in
    non-reliable executor storage). A crash injected BETWEEN the spill
    and the overwrite commit must leave (a) the delta log intact and
    exact, (b) the scratch dir invisible to reads (its summed rows
    would double-count if a reader saw them), and (c) a clean recovery:
    resuming the stream replays nothing, folds the remaining batches,
    and the next compaction interval overwrites the orphan scratch and
    collapses the log."""
    import os
    import time

    from replicadb_spark.functions.text import (
        phrase_scores,
        phrase_scores_from_counts,
    )
    from replicadb_spark.operators import snapshot_table as ST
    from replicadb_spark.streaming import pipeline as P

    batches = [
        [(1, "new york new york is new york"), (2, "a brand new day in york")],
        [(3, "new york again and again"), (4, "solo")],
        [(5, "york new york new day"), (6, "the day is new")],
        [(7, "new york wins the day"), (8, "york again")],
    ]
    src = tmp_path / "phrase_crash_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
        time.sleep(1.05)
        for f in (src / f"b{i}").iterdir():
            os.utime(f)

    store = str(tmp_path / "phrase_crash_store")
    ck = str(tmp_path / "phrase_crash_ck")

    def scratch_dirs():
        if not os.path.isdir(store):
            return []
        return [
            d for d in os.listdir(store) if d.startswith("compact-scratch-")
        ]

    def run(grace_ms=3_600_000):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = P.stream_phrase_counts(
            stream, store, ck, text_col="text", compact_every=2,
            scratch_orphan_grace_ms=grace_ms,
        )
        try:
            q.awaitTermination(300)
            return None
        except Exception as e:  # foreachBatch failure surfaces here
            return e

    real_commit = ST.snapshot_commit

    def crash_on_overwrite(df, path, **kw):
        if kw.get("mode") == "overwrite":
            raise RuntimeError("injected crash before the compaction commit")
        return real_commit(df, path, **kw)

    monkeypatch.setattr(ST, "snapshot_commit", crash_on_overwrite)
    err = run()
    assert err is not None and "injected crash" in str(err)
    monkeypatch.setattr(ST, "snapshot_commit", real_commit)

    def history_ops():
        return sorted(
            (
                (int(r["snapshot_id"]), r["operation"])
                for r in ST.snapshot_history(spark, store).collect()
            )
        )

    # (a)+(b): batch 1's append landed before the crash and reads over
    # the delta log stay exact. An exception-shaped failure reclaims
    # its own scratch via the finally (no orphan); a HARD crash (kill)
    # skips the finally — simulate that orphan directly so the resume
    # exercises the grace-guarded sweep
    assert [op for _, op in history_ops()] == ["append", "append"]
    assert scratch_dirs() == []  # exception path cleans up after itself
    os.makedirs(os.path.join(store, "compact-scratch-deadbeef"))

    def scores_from():
        return {
            (r["w1"], r["w2"], r["n_pair"], r["score"])
            for r in phrase_scores_from_counts(
                P.phrase_counts_view(spark, store), delta=1.0, min_count=2
            ).collect()
        }

    def batch_scores(n_batches):
        flat = [r for b in batches[:n_batches] for r in b]
        df = spark.createDataFrame(flat, "doc_id long, text string")
        out = {
            (r["w1"], r["w2"], r["n_pair"], r["score"])
            for r in phrase_scores(df, "text", delta=1.0, min_count=2).collect()
        }
        from replicadb_spark.cache import release_caches

        release_caches(spark)
        return out

    assert scores_from() == batch_scores(2)

    # (c): resume on the SAME checkpoint — the redelivered batch is
    # guard-skipped, batches 3-4 fold in, their compaction interval
    # commits over the new tip, and (run with grace 0) its
    # start-of-compaction sweep reclaims the crashed attempt's orphan
    assert run(grace_ms=0) is None
    ops = history_ops()
    assert [op for _, op in ops] == [
        "append", "append", "append", "append", "overwrite",
    ]
    assert scratch_dirs() == []
    assert scores_from() == batch_scores(4)


def test_stream_ngram_counts_equals_batch(spark, tmp_path):
    """Twin #35: the shared additive-counts delta log instantiated for
    corpus bigram counts equals the batch ngram_topk_corpus derivation
    over the concatenated corpus after every batch — final state AND a
    time-traveled prefix — with compaction fired mid-stream
    (compact_every=2) and the fresh-checkpoint replay guard. The test
    proves stream_additive_counts generalizes: same guard, same
    append-only per-batch cost, same CAS-compacted log, different
    derive/keys."""
    import os
    import time

    from pyspark.sql import functions as F

    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_history,
    )
    from replicadb_spark.streaming import pipeline as P

    batches = [
        [(1, "the quick brown fox"), (2, "the quick red fox")],
        [(3, "quick brown dogs run"), (4, "one")],
        [(5, "the quick brown fox runs"), (6, "red fox red fox")],
    ]
    src = tmp_path / "ngram_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
        time.sleep(1.05)
        for f in (src / f"b{i}").iterdir():
            os.utime(f)

    store = str(tmp_path / "ngram_store")

    def run(ck):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = P.stream_ngram_counts(
            stream, store, str(tmp_path / ck), text_col="text",
            compact_every=2,
        )
        assert q.awaitTermination(300)

    run("ck1")
    n_commits = current_snapshot(store)
    ops = [
        (int(r["snapshot_id"]), r["operation"])
        for r in snapshot_history(spark, store).collect()
    ]
    assert [op for _, op in sorted(ops)] == [
        "append", "append", "overwrite", "append",
    ]

    def streamed(snapshot_id=None):
        return {
            (r["bigram"], r["cnt"])
            for r in P.ngram_counts_view(
                spark, store, snapshot_id=snapshot_id
            ).collect()
        }

    def batch_counts(n_batches):
        flat = [r for b in batches[:n_batches] for r in b]
        df = spark.createDataFrame(flat, "doc_id long, text string")
        t = df.select(F.split("text", " ").alias("toks")).where(
            F.size("toks") >= 2
        )
        b = t.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "concat(element_at(toks, i), ' ', "
                    "element_at(toks, i + 1)))"
                )
            ).alias("bigram")
        )
        return {
            (r["bigram"], r["cnt"])
            for r in b.groupBy("bigram")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }

    assert streamed() == batch_counts(len(batches))
    assert streamed(snapshot_id=1) == batch_counts(1)

    run("ck2")  # fresh checkpoint: the replay guard skips every batch
    assert current_snapshot(store) == n_commits


def test_stream_phrase_counts_compaction_skips_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """Twin #34 vs a concurrent appender (VERDICT r14 item 6's
    suggested scenario): an out-of-band append landing between the
    compaction's spill and its overwrite publish must NOT be erased by
    the compaction's (now stale) sum. The compaction carries its
    derivation tip as a CAS precondition (expect_parent), refuses via
    ConcurrentCommitError, skips — the delta log stays exact including
    the injected rows — and the NEXT interval compacts the new tip
    successfully. Exactness invariant: final summed counts equal batch
    counts over all streamed docs plus exactly the injected rows."""
    import os
    import time

    from replicadb_spark.functions.text import phrase_unit_counts
    from replicadb_spark.operators import snapshot_table as ST
    from replicadb_spark.streaming import pipeline as P

    batches = [
        [(1, "new york new york is new york"), (2, "a brand new day in york")],
        [(3, "new york again and again"), (4, "solo")],
        [(5, "york new york new day"), (6, "the day is new")],
        [(7, "new york wins the day"), (8, "york again")],
    ]
    src = tmp_path / "phrase_race_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
        time.sleep(1.05)
        for f in (src / f"b{i}").iterdir():
            os.utime(f)

    store = str(tmp_path / "phrase_race_store")
    real_commit = ST.snapshot_commit
    state = {"injected": False}

    def inject_append_before_first_overwrite(df, path, **kw):
        if kw.get("mode") == "overwrite" and not state["injected"]:
            state["injected"] = True
            # a real concurrent append AFTER the compactor captured its
            # tip and spilled — the uncoordinated-second-writer shape
            real_commit(
                df.sparkSession.createDataFrame(
                    [("zzz_injected", None, 7)], "w1 string, w2 string, n long"
                ),
                path,
            )
        return real_commit(df, path, **kw)

    monkeypatch.setattr(ST, "snapshot_commit", inject_append_before_first_overwrite)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = P.stream_phrase_counts(
        stream, store, str(tmp_path / "phrase_race_ck"),
        text_col="text", compact_every=2,
    )
    assert q.awaitTermination(300)  # the refusal is handled, not fatal

    ops = [
        (int(r["snapshot_id"]), r["operation"])
        for r in ST.snapshot_history(spark, store).collect()
    ]
    # 4 batch appends + the injected append; the first compaction
    # refused (no overwrite burnt), the second (after batch 3, counter
    # still over threshold) succeeded over the new tip
    assert sum(1 for _, op in ops if op == "append") == 5
    assert sum(1 for _, op in ops if op == "overwrite") == 1

    got = {
        (r["w1"], r["w2"]): r["n"]
        for r in P.phrase_counts_view(spark, store).collect()
    }
    flat = [r for b in batches for r in b]
    expected = {
        (r["w1"], r["w2"]): r["n"]
        for r in phrase_unit_counts(
            spark.createDataFrame(flat, "doc_id long, text string"), "text"
        ).collect()
    }
    expected[("zzz_injected", None)] = 7  # nothing lost, nothing duped
    assert got == expected


def test_stream_dedup_components_fold_race_refolds(
    spark, tmp_path, monkeypatch
):
    """Twins with read-fold-overwrite state (#32/#33) carry the tip
    they derived from as a CAS precondition (r15): when a competing
    fold (a double-started twin instance) wins the publish race, the
    loser must REFOLD from the winner's state instead of erasing it.
    Injected here at the FIRST commit (expect_parent=0, the
    expect-empty case): a competing instance commits labels for edge
    (100, 101) while batch 0's fold is publishing; the final store
    must equal from-scratch connected components over ALL edges —
    streamed AND injected — with no lost update."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.graph import (
        connected_components,
        merge_components,
    )
    from replicadb_spark.operators import snapshot_table as ST
    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "cc_race_stream"
    src.mkdir()
    batches = [
        [(1, 2), (2, 3)],
        [(3, 4), (10, 11)],
    ]
    for i, rows in enumerate(batches):
        pq.write_table(pa.table({
            "src": pa.array([r[0] for r in rows], pa.int64()),
            "dst": pa.array([r[1] for r in rows], pa.int64()),
        }), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    store = str(tmp_path / "cc_race_store")
    real_commit = ST.snapshot_commit
    state = {"injected": False}

    def inject_competing_fold(df, path, **kw):
        if kw.get("mode") == "overwrite" and not state["injected"]:
            state["injected"] = True
            edges = df.sparkSession.createDataFrame(
                [(100, 101)], "src long, dst long"
            )
            real_commit(
                merge_components(None, edges), path,
                mode="overwrite", meta={"batch_id": 999},
            )
        return real_commit(df, path, **kw)

    monkeypatch.setattr(ST, "snapshot_commit", inject_competing_fold)
    stream = (
        spark.readStream.schema("src long, dst long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = P.stream_dedup_components(stream, store, str(tmp_path / "cc_race_ck"))
    assert q.awaitTermination(300)

    # commits: injected winner (1), batch 0's refold (2), batch 1 (3)
    assert ST.current_snapshot(store) == 3
    got = {
        (r["vertex"], r["component"])
        for r in ST.snapshot_read(spark, store).collect()
    }
    flat = [r for b in batches for r in b] + [(100, 101)]
    want = {
        (r["vertex"], r["component"])
        for r in connected_components(
            spark.createDataFrame(flat, "src long, dst long")
        ).collect()
    }
    assert got == want  # the injected fold was composed, not erased


def test_stream_dedup_components_equals_batch(spark, tmp_path):
    """Twin #33: continuously maintained duplicate clusters equal a
    from-scratch connected_components over all streamed pairs after
    the final batch (star contraction is exact, including cross-batch
    component merges); fresh-checkpoint replay commits nothing."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.operators.graph import connected_components
    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_read,
    )
    from replicadb_spark.streaming import pipeline as P

    src = tmp_path / "cc_stream"
    src.mkdir()
    batches = [
        [(1, 2), (5, 6)],
        [(6, 7), (3, 3)],       # growth + a singleton self-loop
        [(2, 5)],               # merges {1,2} with {5,6,7}
    ]
    for i, rows in enumerate(batches):
        pq.write_table(pa.table({
            "src": pa.array([r[0] for r in rows], pa.int64()),
            "dst": pa.array([r[1] for r in rows], pa.int64()),
        }), src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    store = str(tmp_path / "cc_store")

    def run(ck):
        stream = (
            spark.readStream.schema("src long, dst long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = P.stream_dedup_components(
            stream, store, str(tmp_path / ck)
        )
        q.awaitTermination(300)

    run("ck1")
    assert current_snapshot(store) == 3  # one overwrite per batch
    got = {(r["vertex"], r["component"])
           for r in snapshot_read(spark, store).collect()}
    flat = [r for b in batches for r in b]
    want = {(r["vertex"], r["component"])
            for r in connected_components(
                spark.createDataFrame(flat, "src long, dst long")
            ).collect()}
    assert got == want
    assert (3, 3) in got  # the singleton survived two later batches
    # pre-merge history is time-traveled: {5,6,7} still labeled 5 at #2
    mid = {r["vertex"]: r["component"]
           for r in snapshot_read(spark, store, snapshot_id=2).collect()}
    assert mid[7] == 5 and mid[2] == 1
    run("ck2")  # replay guard
    assert current_snapshot(store) == 3


def test_compact_scratch_sweep_grace_boundary_thread_race(spark, tmp_path):
    """VERDICT r15 item 6: race the grace-guarded orphan sweep against
    a CAS compactor whose scratch is MID-PUBLISH (spilled, not yet
    committed) — real threads, real primitives, at the grace boundary.

    (a) A sweep whose grace exceeds the compactor's spill→commit
    window must NOT reclaim the live attempt's scratch: the attempt
    wins its publish race and the compacted store is exact.
    (b) The same race with grace below the window (the misconfigured
    boundary) deletes the scratch mid-window: the attempt FAILS — but
    the delta log stays exact (no overwrite published from a vanished
    spill; every append still readable, sums unchanged).
    (c) The sweep stays selective under (a): an aged hard-crash orphan
    sitting next to the live scratch is reclaimed in the same pass."""
    import os
    import threading
    import time

    from replicadb_spark.fs import TableFS, join as fs_join
    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_commit,
        snapshot_history,
    )
    from replicadb_spark.streaming.pipeline import (
        additive_counts_view,
        sweep_compact_scratch,
    )

    def build_store(name):
        store = str(tmp_path / name)
        for i, rows in enumerate(
            [[("a", 2), ("b", 1)], [("a", 3)], [("b", 4), ("c", 5)]]
        ):
            snapshot_commit(
                spark.createDataFrame(rows, "k string, n long"),
                store, meta={"batch_id": i},
            )
        return store

    def totals(store):
        return {
            (r["k"], r["n"])
            for r in additive_counts_view(spark, store, ("k",)).collect()
        }

    WANT = {("a", 5), ("b", 5), ("c", 5)}
    HOLD_S = 1.5  # the compactor's simulated spill→commit latency

    def run_race(store, grace_ms):
        """Compactor thread: spill → hold mid-publish → CAS commit.
        Sweeper thread: fires DURING the hold. Returns (compactor_error,
        reclaimed_names)."""
        spilled = threading.Event()
        result = {"err": None, "reclaimed": None}
        tip = current_snapshot(store)
        scratch = fs_join(store, "compact-scratch-racetest")

        def compactor():
            fs = TableFS(spark, store)
            try:
                additive_counts_view(
                    spark, store, ("k",), snapshot_id=tip
                ).write.mode("overwrite").parquet(scratch)
                spilled.set()
                time.sleep(HOLD_S)  # the mid-publish window under test
                snapshot_commit(
                    spark.read.parquet(scratch), store,
                    mode="overwrite", meta={"batch_id": 99},
                    expect_parent=tip,
                )
            except Exception as e:  # noqa: BLE001 — asserted by caller
                result["err"] = e
            finally:
                fs.delete(scratch, recursive=True)

        def sweeper():
            spilled.wait(30)
            result["reclaimed"] = sweep_compact_scratch(
                spark, store, grace_ms=grace_ms
            )

        t1 = threading.Thread(target=compactor)
        t2 = threading.Thread(target=sweeper)
        t1.start(); t2.start()
        t1.join(120); t2.join(120)
        return result

    # (a)+(c) grace above the window: live scratch spared, aged orphan
    # reclaimed, compaction wins
    store = build_store("grace_ok")
    orphan = os.path.join(store, "compact-scratch-crashed0")
    os.makedirs(orphan)
    old = time.time() - 3600
    os.utime(orphan, (old, old))
    res = run_race(store, grace_ms=int(HOLD_S * 20 * 1000))
    assert res["err"] is None, res["err"]
    assert res["reclaimed"] == ["compact-scratch-crashed0"]
    ops = [
        r["operation"] for r in snapshot_history(spark, store).collect()
    ]
    assert sorted(ops) == ["append", "append", "append", "overwrite"]
    assert totals(store) == WANT

    # (b) grace below the window: the sweep reclaims the LIVE scratch
    # mid-publish — the attempt fails, nothing is published from the
    # vanished spill, and the un-compacted log stays exact
    store = build_store("grace_low")
    res = run_race(store, grace_ms=0)
    assert res["err"] is not None  # the attempt lost its spill
    assert res["reclaimed"] == ["compact-scratch-racetest"]
    ops = [
        r["operation"] for r in snapshot_history(spark, store).collect()
    ]
    assert sorted(ops) == ["append", "append", "append"]  # no overwrite
    assert totals(store) == WANT  # the log is still exact


def test_gc_races_cas_overwrite_refold(spark, tmp_path, monkeypatch):
    """VERDICT r16 item 7: snapshot GC's aged-orphan sweep raced
    against an in-flight CAS overwrite chain MID-REFOLD
    (refold-after-refusal) — real threads, real primitives.

    The folder derives an additive-counts compaction from tip 3; a
    concurrent append lands batch 4 inside its publish window, so the
    CAS genuinely refuses (and reclaims the loser's own data files);
    the folder refolds from tip 4, and WHILE its second attempt sits
    mid-publish (data + manifest written, record not yet claimed) a
    full snapshot_expire pass runs with keep_last=1 and an hour of
    orphan grace. Pinned:

    - the GC expires snapshots 1-3 and reclaims a planted AGED
      hard-crash orphan in the same pass (sweep selectivity), but
      SPARES the live attempt's young unpublished data dir + manifest;
    - the refold then lands exactly once on the post-GC store, and the
      final fold equals all four batches — replay guards + CAS keep
      the fold exact through the interleaving;
    - the kept pre-overwrite snapshot stays time-travelable; an
      expired id raises by name."""
    import os
    import threading
    import time

    import pytest

    from replicadb_spark.operators import snapshot_table as snap_mod
    from replicadb_spark.operators.snapshot_table import (
        ConcurrentCommitError,
        current_snapshot,
        snapshot_commit,
        snapshot_expire,
        snapshot_history,
        snapshot_read,
    )
    from replicadb_spark.streaming.pipeline import additive_counts_view

    store = str(tmp_path / "gc_refold")
    for i, rows in enumerate(
        [[("a", 2), ("b", 1)], [("a", 3)], [("b", 4), ("c", 5)]]
    ):
        snapshot_commit(
            spark.createDataFrame(rows, "k string, n long"),
            store, meta={"batch_id": i},
        )

    real = snap_mod._try_publish
    state = {"phase": 0}
    in_publish = threading.Event()  # folder's 2nd attempt is mid-publish
    gc_done = threading.Event()

    def racy(fs, p, rec):
        if rec.get("operation") != "overwrite":
            return real(fs, p, rec)  # the interleaved append passes through
        if state["phase"] == 0:
            state["phase"] = 1
            # batch 4 lands between the folder's read and its publish —
            # the tip moves, the CAS must refuse for real
            snapshot_commit(
                spark.createDataFrame([("c", 6)], "k string, n long"),
                store, meta={"batch_id": 3},
            )
            return real(fs, p, rec)
        if state["phase"] == 1:
            state["phase"] = 2
            in_publish.set()
            assert gc_done.wait(120)  # GC runs NOW, inside the window
        return real(fs, p, rec)

    monkeypatch.setattr(snap_mod, "_try_publish", racy)

    result: dict = {}

    def folder():
        try:
            refusals = 0
            for _ in range(6):
                tip = current_snapshot(store)
                fold = additive_counts_view(
                    spark, store, ("k",), snapshot_id=tip
                )
                try:
                    snapshot_commit(
                        fold, store, mode="overwrite",
                        meta={"batch_id": 99}, expect_parent=tip,
                    )
                    result["refusals"] = refusals
                    return
                except ConcurrentCommitError:
                    refusals += 1
                    continue
            result["err"] = "retries exhausted"
        except Exception as e:  # noqa: BLE001 — asserted below
            result["err"] = e

    # a planted aged hard-crash orphan: an unpublished data dir from a
    # writer that died an hour ago — must go in the same GC pass that
    # spares the live attempt's young files
    orphan = os.path.join(store, "data", "snap-000099-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    old = time.time() - 3600
    os.utime(os.path.join(orphan, "part-0.parquet"), (old, old))
    os.utime(orphan, (old, old))

    t = threading.Thread(target=folder)
    t.start()
    assert in_publish.wait(120), "folder never reached its second publish"
    report = snapshot_expire(
        spark, store, keep_last=1, orphan_grace_ms=3_600_000 // 2
    )
    gc_done.set()
    t.join(120)

    # the refold landed exactly once, after exactly one real refusal
    assert result == {"refusals": 1}, result
    # GC: snapshots 1-3 expired, the aged orphan's file reclaimed, and
    # nothing of the live attempt or the kept tip touched
    assert report["kept"] == [4] and report["expired"] == [1, 2, 3]
    assert not os.path.exists(orphan) or not os.listdir(orphan)
    # the fold is exact over all four batches despite the interleaving
    got = {
        (r["k"], r["n"])
        for r in additive_counts_view(spark, store, ("k",)).collect()
    }
    assert got == {("a", 5), ("b", 5), ("c", 11)}
    hist = {
        r["snapshot_id"]: r["operation"]
        for r in snapshot_history(spark, store).collect()
    }
    assert hist == {4: "append", 5: "overwrite"}
    # the kept pre-overwrite state stays time-travelable...
    pre = {
        (r["k"], r["n"])
        for r in additive_counts_view(
            spark, store, ("k",), snapshot_id=4
        ).collect()
    }
    assert pre == {("a", 5), ("b", 5), ("c", 11)}
    # ...and an expired id raises by name
    with pytest.raises(Exception, match="2"):
        snapshot_read(spark, store, snapshot_id=2).collect()
