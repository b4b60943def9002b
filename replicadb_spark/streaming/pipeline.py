"""Structured Streaming surface.

The reference has NO streaming (Kafka is sink-only, README.md:188; "CDC
mode is no longer supported", cli/ToolOptions.java:724) — SURVEY §1.4
marks this an optional extension. It is included because the batch
operators here (tumbling agg, sessionization, incremental upsert) all
have natural streaming twins, and a training-data pipeline ingests
continuously.

Thirty-five twins, plus the shared additive-counts maintainer
(:func:`stream_additive_counts`) two of them are built on:

1. Eight DataFrame-returning operators the caller starts: four
   built-in stateful ones (tumbling/sliding/session windows, the
   stream-stream interval join) and four custom
   ``applyInPandasWithState`` ones for the non-associative /
   order-dependent recursions built-ins can't express (dedup with
   duplicate accounting, CUSUM changepoints, the as-of state join, the
   online SemDeDup screen).
2. Four file-sink writers (:func:`stream_file_replica` and the Gopher,
   DSIR and BPE screens on top of it): exactly-once through the file
   sink's own commit log.
3. Twenty-three ``foreachBatch`` twins on three shared pieces:

   - :func:`_start_batches`, the writer skeleton (checkpoint, output
     mode, bounded AvailableNow trigger — the only trigger any caller
     runs);
   - :func:`_state_fold`, the parquet-state fold of nine twins
     (incremental upsert and GROUP BY, bottom-k, heavy hitters,
     outlier profile, KMV, PSI, CDC apply, DQ): read the state, fold
     the batch onto it, write the new state aside and swap it in;
   - :func:`_admitted`, the admission rule (:func:`_should_apply`:
     skip empty batches, then the snapshot commit-log replay guard)
     for the thirteen twins that write an external store and must not
     run on an empty or replayed batch. The folds run without it —
     they must see an empty batch 0 to reset stale state — and so
     does :func:`stream_snapshot_changes`, whose body returns on an
     empty batch itself.

Every twin has a batch-equality test (N micro-batches ≡ one batch run)
driven bounded with Trigger.AvailableNow (tests/test_streaming.py);
four are additionally value-hash-gated against DuckDB oracles via the
catalog (streaming_dedup_state, streaming_asof_state,
streaming_dq_state, and the KMV family's gates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from replicadb_spark.modes import latest_per_key
from replicadb_spark.sources.files import read_or_none


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def _should_apply(
    batch_df: DataFrame,
    batch_id: int,
    *,
    guard_path: "str | None" = None,
) -> bool:
    """The twins' shared per-batch admission check, factored so it is
    property-tested ONCE (tests/test_streaming.py) instead of
    re-proven per twin: empty micro-batches are skipped before
    touching any store, and when ``guard_path`` names a snapshot
    table, a batch at or below its last committed batch id is a
    REPLAY (foreachBatch redelivers the last batch after a restart)
    and must not be re-applied — a redelivered batch burning a second
    snapshot id is the at-least-once → exactly-once gap every
    snapshot-committing twin has to close."""
    if batch_df.isEmpty():
        return False
    if guard_path is not None:
        from replicadb_spark.operators.snapshot_table import (
            last_committed_batch_id,
        )

        last = last_committed_batch_id(guard_path)
        if last is not None and batch_id <= last:
            return False
    return True


def _admitted(body, guard_path: "str | None" = None):
    """``body`` run only on the batches :func:`_should_apply` admits."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _should_apply(batch_df, batch_id, guard_path=guard_path):
            body(batch_df, batch_id)

    return apply_batch


def _start_batches(
    stream: DataFrame, checkpoint: str, body, *, output_mode: str = "update"
) -> StreamingQuery:
    """Start a bounded (AvailableNow) ``foreachBatch`` writer running
    ``body`` — the twins' shared skeleton, so a new twin is only its
    batch logic."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def _state_fold(state_path: str, fold):
    """The ``foreachBatch`` body of a parquet-state twin:
    ``fold(batch_df, batch_id, current)`` maps the batch and the state
    read from ``state_path`` (None when absent) to the new state, or to
    None when the batch is a replay the state already holds.

    Batch-0 rule, each fold's own: a lineage-scoped fold ignores
    ``current`` at batch 0 — state before a checkpoint's first batch
    is empty by definition, so this both wipes a state that outlived a
    DEAD checkpoint (its batch ids restart at 0 and would otherwise
    blend into, or no-op against, the new stream) and keeps a batch-0
    replay idempotent. Folds run on empty batches for exactly that
    reset.

    The new state is written to the sibling ``<state>.__replicadb_tmp__``
    and swapped in by :func:`sinks.files.swap_dir` (directly to the
    path when no state exists yet): the write reads the old state but
    never overwrites it, so no checkpoint has to cut the lineage, and a
    write that fails part-way leaves the previous state intact instead
    of deleted — a deleted state would read as absent on the next batch
    and silently reset. A state that exists but cannot be read fails the
    batch (:func:`sources.files.read_or_none`)."""
    from replicadb_spark.sinks.files import swap_dir

    tmp = state_path.rstrip("/") + ".__replicadb_tmp__"
    old = state_path.rstrip("/") + ".__replicadb_old__"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        current = read_or_none(spark, state_path)
        new = fold(batch_df, batch_id, current)
        if new is None:
            return
        if current is None:
            new.write.mode("overwrite").parquet(state_path)
            return
        new.write.mode("overwrite").parquet(tmp)
        swap_dir(spark, state_path, tmp, old)

    return apply_batch


def stream_tumbling_agg(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed count/sum per event_type with late-data watermark.

    Scale: state per (window, event_type) only; the watermark bounds
    state size — the streaming twin of events_tumbling_agg.
    """
    # watermarks require TIMESTAMP; NTZ sources cast (session tz is UTC)
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("bucket_start"),
            "event_type", "n", "sum_value",
        )
    )


def stream_sliding_agg(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Overlapping (sliding) windowed count/sum per event_type — the hop
    windows of a rates/trends dashboard. Each event lands in
    window÷slide windows; Spark expands that assignment inside the
    window operator, then state is per (window, event_type).

    Scale: state ∝ active_windows × event_types, bounded by the
    watermark; the expansion factor (window/slide) multiplies shuffle
    rows, so keep it small (2 here). Batch twin: `events_sliding_agg`
    in plans/catalog.py (same expression, oracle-gated)."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window, slide).alias("win"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type", "n_events", "sum_value",
        )
    )


def stream_sessionize(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessions via session_window — the built-in stateful
    operator replaces the lag+running-sum batch formulation."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    ts_col: str = "ts",
    max_gap: str = "10 minutes",
    watermark: str = "30 minutes",
    payload: str = "event_id",
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with right
    events for the same key within (left.ts, left.ts + max_gap] — the
    streaming form of operators/relational.py:range_join_pairs
    (click→purchase attribution, error correlation, ...).

    Scale: Spark keeps BOTH sides' state keyed by (key, time); the
    time-range condition plus watermarks lets it evict rows older than
    watermark + max_gap, so state is bounded by the gap window — the
    required shape for an unbounded 100 TB/day stream (an unbounded
    equi-join on key alone would hold the full history)."""
    lw = left.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    rw = right.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    l = lw.select(
        F.col(key).alias("k"),
        F.col(ts_col).alias("l_ts"),
        F.col(payload).alias("l_id"),
    )
    r = rw.select(
        F.col(key).alias("rk"),
        F.col(ts_col).alias("r_ts"),
        F.col(payload).alias("r_id"),
    )
    return l.join(
        r,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_gap}")),
    ).select("k", "l_id", "r_id", "l_ts", "r_ts")


def stream_incremental_upsert(
    source: DataFrame,
    sink_path: str,
    checkpoint: str,
    *,
    pk_columns: list[str],
    order_column: str,
) -> StreamingQuery:
    """Continuous incremental replication: each micro-batch MERGEs into a
    parquet snapshot keyed on ``pk_columns`` (last-write-wins by
    ``order_column``) — the streaming twin of the reference's
    `incremental` mode (SURVEY §2.3 M3), via foreachBatch + the same
    modes.upsert_dataframe used in batch. The read → merge → swap
    skeleton is :func:`_state_fold`; unlike the lineage-scoped sketch
    folds, batch 0 merges onto an existing snapshot (a pre-seeded sink
    is the initial-load-then-stream shape).

    Scale note: rewriting a parquet snapshot per batch is the plain-file
    stand-in for a real upsert sink (JDBC MERGE via modes.run_jdbc_mode,
    or a table format with row-level merge); the merge itself is the
    one-shuffle union+window plan at any size.
    """
    from replicadb_spark.modes import upsert_dataframe

    def fold(batch_df: DataFrame, batch_id: int, current):
        # newest row per PK within the batch, then merge over the snapshot
        deduped = latest_per_key(batch_df, pk_columns, order_column)
        if current is None:
            return deduped
        return upsert_dataframe(
            current, deduped, pk_columns, order_column=order_column
        )

    return _start_batches(source, checkpoint, _state_fold(sink_path, fold))


def stream_dedup_first_seen(
    events: DataFrame,
    *,
    key_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    state_ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Cross-batch exact dedup with duplicate ACCOUNTING — the custom
    stateful operator built-ins can't express: ``dropDuplicates`` on a
    stream suppresses repeats but cannot report how many arrived, which
    a training-data ingest pipeline needs for per-source dup-rate
    monitoring.

    ``applyInPandasWithState`` keeps (first_ts, dup_count) per key and,
    in each micro-batch where a key appears, emits one updated row
    (earliest event time seen, cumulative duplicates). Downstream keeps
    the latest row per key (update semantics).

    Scale: state is one tiny tuple per DISTINCT key, partitioned by the
    group key across executors; per-batch work is Arrow-batched pandas.
    EventTimeTimeout + ``state_ttl_ms`` past each key's newest event
    evicts idle keys so state doesn't grow with stream lifetime — the
    watermark alone can't bound it because a key may recur forever.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    key_type = dict(events.dtypes)[key_col]
    out_schema = f"{key_col} {key_type}, first_ts timestamp, dup_count bigint"
    state_schema = "first_ts timestamp, last_ms bigint, dups bigint"

    def track(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n = 0
        batch_first = None
        batch_last_ms = 0
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            n += len(pdf)
            mn, mx = pdf[ts_col].min(), pdf[ts_col].max()
            batch_first = mn if batch_first is None else min(batch_first, mn)
            batch_last_ms = max(batch_last_ms, int(mx.value // 1_000_000))
        if n == 0:
            return
        if state.exists:
            prev_first, prev_last_ms, dups = state.get
            first = min(pd.Timestamp(prev_first), batch_first)
            dups += n
            last_ms = max(prev_last_ms, batch_last_ms)
        else:
            first, dups, last_ms = batch_first, n - 1, batch_last_ms
        state.update((first.to_pydatetime(), last_ms, dups))
        state.setTimeoutTimestamp(last_ms + state_ttl_ms)
        yield pd.DataFrame(
            {key_col: [key[0]], "first_ts": [first], "dup_count": [dups]}
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            track, out_schema, state_schema, "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_file_replica(
    source: DataFrame,
    sink_path: str,
    checkpoint: str,
    fmt: str = "parquet",
) -> StreamingQuery:
    """Continuous file replication: the streaming form of complete/append
    mode — each micro-batch lands as new part-files, exactly-once via the
    checkpoint + file-sink commit log (stronger than the reference's
    non-transactional inserts)."""
    return (
        source.writeStream.format(fmt)
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_incremental_agg(
    source: DataFrame,
    state_path: str,
    checkpoint: str,
    *,
    keys: list[str],
    value_col: str,
) -> StreamingQuery:
    """Continuously-maintained GROUP BY: each micro-batch reduces to
    mergeable partials (operators/rollup.agg_partials) and merges them
    into a parquet state table — the streaming twin of the
    incremental_agg_update batch query, and the aggregation-side
    counterpart of stream_incremental_upsert.

    Because the partial state is associative+commutative (count/sum add,
    min/max fold, DECIMAL sums order-independent), the maintained state
    equals a full batch recompute after ANY micro-batch split of the
    input — tests drive it bounded and assert exactly that. Batch 0
    merges onto an existing state like stream_incremental_upsert, so a
    corrupt state fails the batch (:func:`_state_fold`).

    Scale: per batch, one |batch| partial-agg shuffle + a |keys|-row
    state merge; state size is bounded by key cardinality, never by
    stream length.
    """
    from replicadb_spark.operators.rollup import agg_partials, merge_partials

    def fold(batch_df: DataFrame, batch_id: int, current):
        delta = agg_partials(batch_df, keys, value_col)
        return delta if current is None else merge_partials(current, delta, keys)

    return _start_batches(source, checkpoint, _state_fold(state_path, fold))


def stream_neardup_vs_corpus(
    source: DataFrame,
    corpus: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 64,
    threshold: float = 0.5,
) -> StreamingQuery:
    """Streaming near-duplicate screening of an ingest stream against a
    STATIC corpus: each micro-batch runs the bipartite banded-LSH
    pipeline (functions/dedup.minhash_dedup_pairs_bipartite — corpus ×
    batch buckets only, never corpus × corpus) and appends the verified
    (corpus_id, incoming_id, jaccard) pairs to a parquet result table.
    The streaming form of the ``dedup_incremental_batch`` catalog query,
    and the shape a production pipeline runs as new shards land.

    Determinism contract (tested): because each batch's pairs depend
    only on (corpus, that batch's rows), the union of per-batch outputs
    equals ONE bipartite run over all streamed rows — micro-batch
    boundaries cannot change the result.

    Scale: per batch, cost is O(|batch|·bands) plus matched buckets;
    the corpus side's sketch recomputes per batch here — at 100 TB the
    corpus bucket index is precomputed once to a table and this
    function's corpus arg is that staged index's source rows.
    """
    from replicadb_spark.functions.dedup import minhash_dedup_pairs_bipartite

    def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
        pairs = minhash_dedup_pairs_bipartite(
            corpus, batch_df, id_col, text_col,
            k=k, num_hashes=num_hashes, bands=bands, threshold=threshold,
        )
        pairs.write.mode("append").parquet(out_path)

    return _start_batches(
        source, checkpoint, _admitted(screen_batch), output_mode="append"
    )


def stream_bottomk_sample(
    source: DataFrame,
    state_path: str,
    checkpoint: str,
    *,
    id_col: str,
    keep: list[str],
    k: int,
) -> StreamingQuery:
    """Continuously-maintained bottom-k (KMV) sample: each micro-batch's
    k smallest xxhash64(id) rows merge with the persisted sample and
    re-prune to k — the streaming twin of operators/quantiles.
    bottomk_sample, maintaining an always-current uniform sample (and
    thus quantile sketch) over an unbounded stream.

    Because the rank is a FIXED hash of the row id, bottom-k is exactly
    mergeable: bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B)), so
    the maintained state is bit-identical to a batch bottom-k over
    everything streamed so far, under ANY micro-batch split — the test
    asserts exactly that.

    PRECONDITION for the bit-identical claim: ``id_col`` values are
    unique across the stream. The merge is set-semantic (identical
    (keep, rank) rows collapse — that is what makes an at-least-once
    replay idempotent), while a batch bottom-k lets duplicate ids
    occupy one sample slot each; deduplicating batch-side instead
    would force a full-data shuffle where the sample is built with a
    shuffle-free partial top-k. Duplicate ids are a caller data error
    under either engine.

    Stale-state guard: batch 0 of a (re)created checkpoint REPLACES any
    surviving state — the lineage-scoped batch-0 rule of
    :func:`_state_fold` — so a dead lineage's sample cannot leak into
    the new stream's.

    Scale: per batch one TakeOrdered partial top-k over the batch plus
    a merge of ≤ 2k rows; state size is k rows forever.
    """
    from replicadb_spark.operators.quantiles import bottomk_sample

    def fold(batch_df: DataFrame, batch_id: int, current):
        delta = bottomk_sample(batch_df, id_col, k=k, keep=keep)
        if batch_id == 0 or current is None:
            return delta
        # dropDuplicates makes the merge SET-semantic: an at-least-once
        # foreachBatch replay re-contributes identical rows, which
        # collapse instead of double-occupying sample slots — the batch
        # is idempotent for free
        return (
            current.unionByName(delta).dropDuplicates().orderBy("__rk").limit(k)
        )

    return _start_batches(source, checkpoint, _state_fold(state_path, fold))


def stream_heavy_hitters(
    source: DataFrame,
    state_path: str,
    checkpoint: str,
    *,
    key_col: str,
    k: int = 64,
) -> StreamingQuery:
    """Continuously-maintained Misra-Gries heavy-hitter summary: each
    micro-batch's MG summary merges with the persisted ≤ k-counter
    state (counter-wise sum, then the tail-bound re-prune) — the
    streaming twin of operators/heavy_hitters.heavy_hitter_candidates.

    Mergeable-summaries guarantee (Agarwal et al., PODS 2012) survives
    arbitrary merge trees: after any micro-batch split the state still
    contains EVERY key with true stream frequency > N_total/(k+1),
    with estimates under-reporting by ≤ N_total/(k+1). The state is
    never exact and never meant to be — the test pins the superset
    guarantee, not equality.

    Stale-state guard: batch 0 of a (re)created checkpoint REPLACES any
    surviving state (:func:`_state_fold`'s lineage-scoped batch-0 rule;
    a dead lineage's far-ahead ``last_batch`` would otherwise make the
    replay guard no-op every batch forever); batches > 0 carry the last
    applied batch id, and the fold returns None for an at-least-once
    replay of the SAME lineage, so it is an exact no-op.

    Scale: per batch a ≤ partitions×k-row shuffle; state is ≤ k rows
    regardless of stream length or key cardinality.
    """
    from replicadb_spark.operators.heavy_hitters import mg_summaries

    def fold(batch_df: DataFrame, batch_id: int, current):
        delta = (
            mg_summaries(batch_df, key_col, k=k)
            .groupBy("key")
            .agg(F.sum("est").alias("est"))
        )
        if batch_id == 0 or current is None:
            merged = delta
        else:
            # replay guard: counters are NOT set-semantic (a re-applied
            # batch double-counts and breaks the est ≤ truth bound), so
            # the state carries the last applied batch_id and an
            # at-least-once replay becomes a no-op
            applied = current.agg(F.max("last_batch")).first()[0]
            if applied is not None and applied >= batch_id:
                return None
            merged = (
                current.drop("last_batch")
                .unionByName(delta)
                .groupBy("key")
                .agg(F.sum("est").alias("est"))
            )
        # MG prune back to ≤ k counters: subtract the (k+1)-th largest
        # est from all, drop non-positive — uniform subtraction keeps
        # the under-estimate bound additive across merges
        kth = (
            merged.select(F.col("est").alias("e"))
            .orderBy(F.col("e").desc())
            .limit(k + 1)
            .agg(F.min("e").alias("pivot"), F.count(F.lit(1)).alias("n"))
        )
        return (
            merged.crossJoin(F.broadcast(kth))
            .where((F.col("n") <= k) | (F.col("est") > F.col("pivot")))
            .select(
                "key",
                F.when(F.col("n") <= k, F.col("est"))
                .otherwise(F.col("est") - F.col("pivot"))
                .alias("est"),
                F.lit(batch_id).cast("long").alias("last_batch"),
            )
        )

    return _start_batches(source, checkpoint, _state_fold(state_path, fold))


def stream_outlier_profile(
    source: DataFrame,
    state_path: str,
    checkpoint: str,
    *,
    key_col: str,
    id_col: str,
    value_col: str,
    k_per_key: int = 1024,
) -> StreamingQuery:
    """Continuously-maintained PER-KEY bottom-k (KMV) value sample —
    the state behind a streaming robust median/MAD outlier profile
    (read it back with :func:`outlier_profile_from_state`), completing
    the robust-stats surface's streaming twin next to the global
    bottom-k and Misra-Gries states.

    Each micro-batch keeps the ``k_per_key`` smallest
    ``xxhash64(id)``-ranked (value, rank) rows per key and set-merges
    them with the persisted per-key sample. Same contracts as
    stream_bottomk_sample: exactly mergeable under any batch split
    (so with ``k_per_key`` ≥ a key's stream count the sample IS the
    key's full value multiset and the profile is bit-identical to
    batch mad_outlier_profile — the test pins that), idempotent under
    at-least-once replay via set-semantic merge (ids must be unique),
    and batch 0 of a fresh checkpoint lineage replaces dead-lineage
    state (:func:`_state_fold`).

    Scale: per batch ONE shuffle on the key (the per-key top-k
    window over batch ∪ state); state is ≤ k_per_key rows per key
    forever, so the downstream profile reads a bounded sample instead
    of the unbounded stream.
    """
    from pyspark.sql import Window

    def _prune(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("key").orderBy("__rk")
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k_per_key)
            .drop("__rn")
        )

    def fold(batch_df: DataFrame, batch_id: int, current):
        delta = _prune(
            batch_df.select(
                F.col(key_col).alias("key"),
                F.xxhash64(F.col(id_col)).alias("__rk"),
                F.col(value_col).alias("value"),
            )
        )
        if batch_id == 0 or current is None:
            return delta
        return _prune(current.unionByName(delta).dropDuplicates())

    return _start_batches(source, checkpoint, _state_fold(state_path, fold))


def outlier_profile_from_state(
    spark: SparkSession, state_path: str, *, z: float = 3.5
) -> DataFrame:
    """(key, med, mad, n_outliers) from a :func:`stream_outlier_profile`
    state directory — operators/stats.mad_outlier_profile applied to
    the maintained per-key sample. n_outliers counts SAMPLE rows
    beyond the cutoff; scale to the stream with the key's true count
    if an absolute rate is needed (the sample is uniform per key)."""
    from replicadb_spark.operators.stats import mad_outlier_profile

    return mad_outlier_profile(
        spark.read.parquet(state_path), "key", "value", z=z
    )


def stream_kmv_distinct(
    source: DataFrame,
    state_path: str,
    checkpoint: str,
    *,
    key_col: str,
    k: int,
) -> StreamingQuery:
    """Continuously-maintained KMV distinct-count sketch: each
    micro-batch's bottom-k DISTINCT hash ranks merge with the persisted
    sketch and re-prune to k — the streaming twin of operators/
    quantiles.kmv_distinct_sketch, answering "how many distinct keys so
    far" (and set-overlap questions via kmv_set_estimates) over an
    unbounded stream in k rows of state.

    Unlike stream_bottomk_sample, duplicate keys are FINE here — the
    sketch is a set of hashes, so the distinct-union merge makes both
    re-delivered batches (at-least-once replay) and genuinely repeated
    keys collapse into the same rank: the state is bit-identical to a
    batch kmv_distinct_sketch over everything streamed so far, under
    ANY split. Same batch-0 stale-state replacement as the other
    sketch twins (:func:`_state_fold`).

    Scale: per batch one Arrow pre-prune + distinct over ≤ k·batches
    candidate rows, then a ≤ 2k merge; state is k rows forever."""
    from replicadb_spark.operators.quantiles import kmv_distinct_sketch

    def fold(batch_df: DataFrame, batch_id: int, current):
        delta = kmv_distinct_sketch(batch_df, key_col, k=k)
        if batch_id == 0 or current is None:
            return delta
        return current.unionByName(delta).distinct().orderBy("__rk").limit(k)

    return _start_batches(source, checkpoint, _state_fold(state_path, fold))


def _psi_merge_fn(state_path: str, value_col: str, bounds: "list[float]"):
    """The :func:`_state_fold` body of stream_psi_drift, module-level
    so the replay-guard test can drive it with fabricated batch ids."""

    def bucketed_counts(df: DataFrame, batch_id: int) -> DataFrame:
        # plain comparison chain, not a higher-order filter: HOF lambda
        # variables break the Union constraint rewrite inside
        # foreachBatch merges (key not found: <col>), and the chain is
        # whole-stage codegen anyway
        bucket = F.lit(1)
        for b in bounds:
            bucket = bucket + (F.col(value_col) > F.lit(float(b))).cast("int")
        return (
            df.select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("c"))
            .withColumn("last_batch", F.lit(batch_id).cast("long"))
        )

    def fold(batch_df: DataFrame, batch_id: int, current):
        delta = bucketed_counts(batch_df, batch_id)
        if batch_id == 0 or current is None:
            return delta
        applied = current.agg(F.max("last_batch")).first()[0]
        if applied is not None and applied >= batch_id:
            return None  # at-least-once replay of an applied batch: no-op
        return (
            current.unionByName(delta)
            .groupBy("bucket")
            .agg(F.sum("c").alias("c"), F.max("last_batch").alias("last_batch"))
        )

    return _state_fold(state_path, fold)


def stream_psi_drift(
    source: DataFrame,
    state_path: str,
    checkpoint: str,
    *,
    value_col: str,
    bounds: "list[float]",
) -> StreamingQuery:
    """Continuously-maintained PSI drift monitor: the reference decile
    ``bounds`` are fixed (computed once from the training/reference
    period — the batch psi_value_drift's cut derivation), and each
    micro-batch folds its per-bucket counts into persisted state.
    Per-bucket counts are trivially mergeable, so the maintained
    histogram — and therefore the PSI read off it with
    ``psi_from_state`` — is EXACTLY what the batch computation over
    everything streamed so far would produce, under any split (the
    equivalence test proves it).

    Scale: per batch one ≤(len(bounds)+1)-key aggregate; state is one
    row per bucket forever. Same batch-0 stale-state replacement as the
    sketch twins (:func:`_state_fold`), and — because COUNTS are not
    set-semantic (a re-applied batch double-counts, the
    stream_heavy_hitters hazard, unlike the KMV twin's distinct-union)
    — the state carries the last applied batch id and the fold returns
    None for an at-least-once replay, so it is a no-op."""

    return _start_batches(
        source, checkpoint, _psi_merge_fn(state_path, value_col, bounds)
    )


def psi_from_state(
    spark, state_path: str, ref_props: "dict[int, float]", n_buckets: int
) -> float:
    """PSI of the maintained histogram against reference proportions
    (bucket → p_ref), with the standard 1e-6 clamp — the read side of
    stream_psi_drift. State is ≤ n_buckets rows; this is a driver-side
    fold over a bounded frame."""
    import math

    rows = {r["bucket"]: r["c"] for r in spark.read.parquet(state_path).collect()}
    total = sum(rows.values())
    psi = 0.0
    for b in range(1, n_buckets + 1):
        p_cur = (rows.get(b, 0) / total) if total else 0.0
        pc = max(p_cur, 1e-6)
        pr = max(ref_props.get(b, 0.0), 1e-6)
        psi += (pc - pr) * math.log(pc / pr)
    return psi


def stream_cdc_apply(
    source: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    *,
    keys: "list[str]",
    op_col: str = "op",
    order_col: str = "seq",
) -> StreamingQuery:
    """Continuous CDC replication: each micro-batch is an ordered
    insert/update/delete changelog slice applied onto the maintained
    snapshot parquet via operators/cdc.apply_changelog — the streaming
    form of the delete-capable incremental mode (the reference's
    retired CDC mode, rebuilt on foreachBatch).

    Contract: the log's ``order_col`` is per-key monotone across
    batches (true of any ordered changelog — LSN, binlog position);
    under that contract the maintained snapshot after N batches is
    IDENTICAL to one batch apply_changelog of the concatenated log
    (per-key, only the globally-latest op ever decides, and it arrives
    in the latest batch that touches the key). An at-least-once replay
    re-applies the SAME compacted ops — deletes and full-payload
    upserts are idempotent, so REPLAY needs no batch-id guard (unlike
    the count-merging PSI/heavy-hitter states). A FRESH checkpoint is
    different: batch 0 rebuilds the snapshot from the batch alone (the
    lineage-scoped batch-0 rule of :func:`_state_fold`, as in the
    sketch twins), so a reused snapshot_path can't silently receive a
    replayed changelog on top of stale state.

    Scale: per batch one window shuffle over the BATCH's changes
    (compaction) + the co-partitioned anti-join/union of apply_diff —
    O(changes + snapshot) I/O per batch against a real merge-capable
    sink; the parquet rewrite here is the plain-file stand-in
    (stream_incremental_upsert's documented trade)."""
    from replicadb_spark.operators.cdc import apply_changelog

    def fold(batch_df: DataFrame, batch_id: int, current):
        if batch_id == 0 or current is None:
            payload = [
                c for c in batch_df.columns if c not in (op_col, order_col)
            ]
            current = batch_df.select(*payload).limit(0)
        return apply_changelog(
            current, batch_df, keys, op_col=op_col, order_col=order_col
        )

    return _start_batches(source, checkpoint, _state_fold(snapshot_path, fold))


def stream_cusum_alerts(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    target: float,
    slack: float = 0.0,
    threshold: float = 5.0,
    watermark: str = "2 hours",
    tiebreak_cols: "tuple[str, ...]" = (),
    state_ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Streaming one-sided CUSUM drift detector per key — the second
    custom applyInPandasWithState operator (stream_dedup_first_seen's
    sibling): the Page recursion S = max(0, S + (x − target − slack))
    folds across micro-batches through per-key state, emitting one
    updated (n, n_alerts, max_s, final_s) row per key per batch.

    The recursion's max(0,·) clamp is non-associative, so no built-in
    window or mergeable-summary trick expresses it — per-key ordered
    state is the only shape, which is exactly what
    applyInPandasWithState provides. Within a batch rows fold in event
    order; across batches the state carries (S, counters). The
    equivalence test proves the streamed fold equals the batch
    operators/stats.cusum_profile over the full history under any
    batch split, PROVIDED batches arrive in per-key event order (true
    of an ordered source; late data would need a watermark-delayed
    re-fold, the documented trade). Same-timestamp rows within a batch
    fold in ``tiebreak_cols`` order (pass e.g. an event-id column, as
    cusum_profile's order_cols does) — without one, intra-batch ties
    fold in arrival order and n_alerts/final_s may vary across runs.

    Scale: one tiny numeric tuple per key, partitioned across
    executors; Arrow-batched folds; EventTimeTimeout + ``state_ttl_ms``
    past each key's newest event evicts idle keys (mirrors
    stream_dedup_first_seen) so state doesn't grow with key churn."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    key_t = dict(events.dtypes)[key_col]
    out_schema = (
        f"key {key_t}, n long, n_alerts long, max_s double, final_s double"
    )
    state_schema = "s double, mx double, alerts long, n long, last_ms long"
    sort_cols = [ts_col, *tiebreak_cols]

    def fold(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            s, mx, alerts, n, last_ms = state.get
        else:
            s, mx, alerts, n, last_ms = 0.0, 0.0, 0, 0, 0
        # a group larger than the Arrow batch size arrives as several
        # chunks with NO cross-chunk time order — concat before the one
        # sort, or the fold order breaks exactly on big keys
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            sort_cols, kind="stable"
        )
        n += len(pdf)
        last_ms = max(last_ms, int(pdf[ts_col].max().value // 1_000_000))
        for x in pdf[value_col].astype(float):
            s = max(0.0, s + (x - target - slack))
            mx = max(mx, s)
            if s > threshold:
                alerts += 1
                s = 0.0
        state.update((s, mx, alerts, n, last_ms))
        state.setTimeoutTimestamp(last_ms + state_ttl_ms)
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n": [n],
                "n_alerts": [alerts],
                "max_s": [mx],
                "final_s": [s],
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_asof_enrich(
    facts: DataFrame,
    dims: DataFrame,
    *,
    on: str,
    fact_ts: str = "ts",
    dim_ts: str = "ts",
    fact_cols: "list[str]",
    payload: "list[str]",
    watermark: str = "2 hours",
    state_ttl_ms: "int | None" = None,
    dim_tiebreak: "list[str] | None" = None,
) -> DataFrame:
    """Streaming AS-OF state join — the streaming twin of
    operators/relational.asof_join (and therefore of the SCD2
    point-in-time and purchase-attribution family, which are all
    backward as-of joins at heart): each fact row is enriched with the
    payload of the latest dimension version whose ``dim_ts`` <=
    ``fact_ts``, across micro-batch boundaries.

    Ties: several dimension versions at the SAME (key, ts) are decided
    last-duplicate-wins; pass ``dim_tiebreak`` (payload column names,
    ascending) to make that winner deterministic — e.g. tiebreak on the
    value itself reproduces a MAX-collapse per (key, ts), which is what
    a SQL oracle can replay. Without it, equal-timestamp duplicates
    resolve in arrival order (the batch asof_join has the same caveat).

    Shape: the two streams union with a side tag into ONE keyed stream;
    ``applyInPandasWithState`` keeps, per key, exactly the LATEST
    dimension version seen (one tiny tuple — the running as-of carry),
    seeds each batch's ``pandas.merge_asof`` with it, and emits one
    enriched row per fact (append mode). Within a batch enrichment is
    exact for any fact/dim interleaving (merge_asof over the sorted
    batch, dim-at-equal-ts visible to the fact, later duplicate wins);
    ACROSS batches the single-version state is exact under the same
    per-key ordered-arrival contract as stream_cusum_alerts — batch
    N+1's rows are not older than batch N's for that key (true of an
    ordered changelog/event source; out-of-order sources need a
    watermark-delayed re-sort upstream). The equivalence test proves
    the N-batch stream equals one batch asof_join over the full
    history under that contract.

    State: one (dim_us, payload...) tuple per key — bounded by
    DIMENSION cardinality (what a broadcast dim table would cost), so
    the default keeps it forever: evicting a dimension version is
    semantically lossy (facts after eviction enrich to null), unlike
    the dedup/CUSUM counters where idle keys are garbage. Pass
    ``state_ttl_ms`` to opt into EventTimeTimeout eviction when key
    churn (e.g. per-session dims) makes retention unbounded.

    Scale: per batch one shuffle on the join key; Arrow-batched
    vectorized merge_asof per key group; payload columns only (project
    before calling for wide dims)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    fact_types = dict(facts.dtypes)
    dim_types = dict(dims.dtypes)
    key_t = fact_types[on]

    f_side = facts.select(
        F.col(on).alias("__k"),
        F.col(fact_ts).cast("timestamp").alias("__t"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in fact_cols],
        *[F.lit(None).cast(dim_types[p]).alias(p) for p in payload],
    )
    d_side = dims.select(
        F.col(on).alias("__k"),
        F.col(dim_ts).cast("timestamp").alias("__t"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(fact_types[c]).alias(c) for c in fact_cols],
        *[F.col(p) for p in payload],
    )
    u = f_side.unionByName(d_side).withWatermark("__t", watermark)

    out_schema = ", ".join(
        [f"{on} {key_t}", f"{fact_ts} timestamp"]
        + [f"{c} {fact_types[c]}" for c in fact_cols]
        + [f"{p} {dim_types[p]}" for p in payload]
    )
    state_schema = ", ".join(
        ["dim_us long"] + [f"{p} {dim_types[p]}" for p in payload]
    )
    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def enrich(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            st = state.get
            seed = pd.DataFrame(
                {
                    "__t": [pd.Timestamp(st[0], unit="us")],
                    **{p: [st[i + 1]] for i, p in enumerate(payload)},
                }
            )
        else:
            seed = None
        # a group larger than the Arrow batch size arrives as several
        # chunks with NO cross-chunk time order — concat before the one
        # sort, or a fact in a later chunk misses a dim in an earlier one
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            # dims sort before facts at equal __t (side 0 < 1) so an
            # equal-timestamp version is visible; later duplicates win,
            # with dim_tiebreak making the last duplicate deterministic
            # (facts all share side=1 and null tiebreak values, so the
            # stable sort never reorders them)
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["__t", "__side", *(dim_tiebreak or [])],
                kind="stable",
                na_position="last",
            )
            d = pdf[pdf["__side"] == 0][["__t", *payload]]
            if seed is not None:
                d = pd.concat([seed, d], ignore_index=True)
                if len(d) > 1 and not d["__t"].is_monotonic_increasing:
                    # a dim row OLDER than the carried seed (ordered-
                    # arrival contract violation) would leave d unsorted
                    # and crash merge_asof — re-sort (stable: the seed
                    # stays ahead of equal-__t rows) so violations
                    # degrade to latest-version semantics instead
                    d = d.sort_values("__t", kind="stable", ignore_index=True)
            f = pdf[pdf["__side"] == 1][["__t", *fact_cols]]
            if len(f):
                if len(d):
                    enriched = pd.merge_asof(
                        f, d, on="__t", allow_exact_matches=True
                    )
                else:
                    enriched = f.copy()
                    for p in payload:
                        enriched[p] = None
                enriched.insert(0, on, key[0])
                yield enriched.rename(columns={"__t": fact_ts})
            if len(d):
                seed = d.tail(1)
        if seed is not None and len(seed):
            last = seed.iloc[-1]
            dim_us = int(pd.Timestamp(last["__t"]).value // 1_000)
            state.update((dim_us, *[last[p] for p in payload]))
            if state_ttl_ms is not None:
                state.setTimeoutTimestamp(dim_us // 1_000 + state_ttl_ms)

    return u.groupBy(F.col("__k")).applyInPandasWithState(
        enrich,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def stream_semantic_dedup(
    stream: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_kept_per_cell: int = 100_000,
) -> DataFrame:
    """Streaming SemDeDup screen — the twin of functions/dedup.
    semantic_dedup for a continuously-arriving embedded corpus: each
    micro-batch's vectors are assigned to their nearest FIXED centroid
    (the collected codebook from a reference batch — the same bounded
    centroid-collect the batch operator does), then screened against
    the per-cell set of previously KEPT vectors held in
    ``applyInPandasWithState``; a vector with a kept neighbor at
    cosine ≥ threshold in its cell is marked duplicate, otherwise it
    is kept and joins the state. Emits (id, cell, kept) per input row
    (append mode).

    Equivalence contract: with vectors arriving in ascending-id order
    (the greedy MIS is order-dependent — same contract the batch
    operator documents for its per-cell ascending-id scan) and the
    same centroid table, N micro-batches produce EXACTLY the batch
    operator's verdicts; the test proves it under a 3-way split.

    State: the kept vectors of each cell — the irreducible memory of
    any online dedup screen (what the batch operator re-reads from the
    corpus each run). Bounded by kept-density × cell size; size
    n_cells ∝ corpus so cells stay ~10k vectors, and
    ``max_kept_per_cell`` hard-caps pathological cells: past the cap
    new vectors are emitted kept=true but NOT added to state (flagged
    via the saturated column), so state cannot grow unboundedly —
    the same honest-cap pattern as fuzzy_name_match's max_sig_df.

    Scale: centroid argmax rides the closure (zero-shuffle assign, as
    batch); ONE shuffle per batch on cell; per-cell work is one
    vectorized (batch × kept) matmul."""
    import numpy as np

    from pyspark.sql.streaming.state import GroupStateTimeout

    from replicadb_spark.functions.similarity import (
        _centroid_matrix,
        _unit_rows,
        assign_cells_kernel,
    )

    if not centroids:
        raise ValueError("centroids must be a non-empty collected codebook")
    cell_ids, Cn = _centroid_matrix(centroids)
    assigned = assign_cells_kernel(
        stream, cell_ids, Cn, id_col=id_col, vec_col=vec_col, keep_vec=True
    )
    id_t = dict(stream.dtypes)[id_col]

    out_schema = f"id {id_t}, cell int, kept boolean, saturated boolean"
    state_schema = "kept_vecs array<array<double>>, n_kept int"

    def screen(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:  # NoTimeout → unreachable; keep the guard
            state.remove()
            return
        kept_list: list = list(state.get[0]) if state.exists else []
        # concat all Arrow chunks before the one ascending-id sort — a
        # cell bigger than the Arrow batch size would otherwise screen
        # chunk-by-chunk in an order that breaks the greedy-MIS contract
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            state.update((kept_list, len(kept_list)))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            "__vid"
        ).reset_index(drop=True)
        M = _unit_rows(np.array(pdf["__v"].tolist(), dtype=np.float64))
        kept_flags, sat_flags = [], []
        K = (
            np.array(kept_list, dtype=np.float64)
            if kept_list
            else np.zeros((0, M.shape[1]))
        )
        for i in range(len(pdf)):
            saturated = len(kept_list) >= max_kept_per_cell
            if len(K) and (K @ M[i] >= threshold).any():
                kept_flags.append(False)
                sat_flags.append(saturated)
                continue
            kept_flags.append(True)
            sat_flags.append(saturated)
            if not saturated:
                kept_list.append(M[i].tolist())
                K = np.vstack([K, M[i][None, :]])
        yield pd.DataFrame(
            {
                "id": pdf["__vid"],
                "cell": pdf["cell"],
                "kept": kept_flags,
                "saturated": sat_flags,
            }
        )
        state.update((kept_list, len(kept_list)))

    return assigned.groupBy(F.col("cell")).applyInPandasWithState(
        screen,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _dq_merge_fn(state_path: str, rules: list):
    """The :func:`_state_fold` body of stream_dq_monitor, module-level
    so the replay-guard test can drive it with fabricated batch ids."""
    from replicadb_spark.operators.dq import CountRule, Rule

    row_rules = [r for r in rules if isinstance(r, Rule)]

    def rule_counts(df: DataFrame, batch_id: int) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, r in enumerate(row_rules):
            aggs.append(
                F.sum(F.when(r.predicate, 1).otherwise(0)).alias(f"__c{i}")
            )
        return df.agg(*aggs).withColumn(
            "last_batch", F.lit(batch_id).cast("long")
        )

    def fold(batch_df: DataFrame, batch_id: int, current):
        delta = rule_counts(batch_df, batch_id)
        if batch_id == 0 or current is None:
            return delta
        applied = current.agg(F.max("last_batch")).first()[0]
        if applied is not None and applied >= batch_id:
            return None  # at-least-once replay of an applied batch: no-op
        count_cols = [c for c in current.columns if c != "last_batch"]
        return current.unionByName(delta).agg(
            *[F.sum(c).alias(c) for c in count_cols],
            F.max("last_batch").alias("last_batch"),
        )

    return _state_fold(state_path, fold)


def stream_dq_monitor(
    source: DataFrame,
    state_path: str,
    checkpoint: str,
    *,
    rules: list,
) -> StreamingQuery:
    """Continuous data-quality monitoring — the streaming twin of
    operators/dq.run_checks for its mergeable subset: every per-row
    conditional-count rule and the ``at_least(n)`` floor fold across
    micro-batches as exact count sums (ONE aggregate row of state,
    folded by :func:`_state_fold` with stream_psi_drift's batch-0 reset
    and batch-id replay guard, since count merging is not idempotent). ``dq_report`` reads the same (rule,
    metric, threshold, passed) frame run_checks returns, off the state
    instead of a full rescan — the load-gate a continuously-replicating
    pipeline polls between batches.

    Uniqueness rules are EXCLUDED by contract: distinct-counting does
    not fold through per-batch partial counts (a key seen in two
    batches is one distinct value, not two) — at stream scale that is
    the KMV sketch's job (stream_kmv_distinct maintains exactly that
    state; pair it with a threshold poll for an approximate uniqueness
    gate).

    Scale: per batch one scan computing every rule in one aggregate
    (the run_checks plan), merged into a 1-row parquet state."""
    from replicadb_spark.operators.dq import UniqueRule

    if any(isinstance(r, UniqueRule) for r in rules):
        raise ValueError(
            "unique() rules do not fold across micro-batches — use "
            "stream_kmv_distinct for approximate streaming uniqueness"
        )
    return _start_batches(source, checkpoint, _dq_merge_fn(state_path, rules))


def dq_report(spark: SparkSession, state_path: str, rules: list) -> DataFrame:
    """(rule, metric, threshold, passed) off stream_dq_monitor's state —
    same row shape, rounding (half-away-from-zero), empty-table
    vacuous-truth semantics, and name ordering as batch run_checks."""
    from decimal import ROUND_HALF_UP, Decimal

    from replicadb_spark.operators.dq import CountRule, Rule

    row_rules = [r for r in rules if isinstance(r, Rule)]
    count_rules = [r for r in rules if isinstance(r, CountRule)]
    st = read_or_none(spark, state_path)
    if st is None:
        base = {"__n": 0, **{f"__c{i}": 0 for i in range(len(row_rules))}}
    else:
        base = st.collect()[0].asDict()
    n = base["__n"]

    def round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    rows = []
    for i, r in enumerate(row_rules):
        metric = (base[f"__c{i}"] / n) if n else 1.0
        rows.append((r.name, round6(metric), r.min_ratio, metric >= r.min_ratio))
    for r in count_rules:
        metric = min(n / r.min_rows, 1.0) if r.min_rows > 0 else 1.0
        rows.append((r.label(), round6(metric), 1.0, n >= r.min_rows))
    rows.sort(key=lambda t: t[0])
    return spark.createDataFrame(
        rows, "rule string, metric double, threshold double, passed boolean"
    )


def stream_jdbc_replica(
    source: DataFrame,
    checkpoint: str,
    *,
    sink_connect: str,
    sink_table: str,
    mode: str = "incremental",
    sink_user: "str | None" = None,
    sink_password: "str | None" = None,
    sink_params: "dict | None" = None,
    pk_columns: "list[str] | None" = None,
    order_column: "str | None" = None,
) -> StreamingQuery:
    """Continuous replication into a LIVE JDBC database — each
    micro-batch runs the engine's own sink mode (modes.run_jdbc_mode:
    staging table + dialect MERGE for ``incremental``, bulk append for
    ``append``) against the real connection. This removes the
    parquet-snapshot stand-in the other upsert twins document: the
    sink here is the same staging+MERGE path the batch CLI uses, so a
    changelog stream lands in the sink table with true last-write-wins
    per primary key.

    Delivery semantics: ``incremental`` MERGEs full-payload upserts —
    idempotent, so an at-least-once replay of a micro-batch is a no-op
    and NO batch-id guard is needed (the live-sink analog of
    stream_cdc_apply's argument; the test proves re-applying a batch
    leaves the sink unchanged). ``append`` bulk-inserts and is NOT
    replay-idempotent — use it only with exactly-once sources or
    dedup downstream, the same caveat the reference's non-transactional
    inserts carry (SURVEY §2.3 M1 without truncate).

    A micro-batch touching one key several times would fail the MERGE
    (multiple source matches), so pass ``order_column`` to compact each
    batch to its newest row per ``pk_columns`` first (pk_columns
    defaults to the sink's discovered primary key); without it the
    source contract is at most one row per key per batch.

    Scale: per batch the usual MERGE economics — one staging write of
    the BATCH (not the table) + one set-based MERGE; the stream never
    rewrites the sink."""
    from replicadb_spark.modes import run_jdbc_mode
    from replicadb_spark.options import ReplicaJob

    if mode not in ("incremental", "append"):
        raise ValueError(
            "stream_jdbc_replica supports mode='incremental' (MERGE, "
            "replay-idempotent) or 'append' (bulk insert) — per-batch "
            "'complete' would truncate the sink every micro-batch"
        )

    pk_cache: list = []  # sink PK metadata discovered once, not per batch

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        job = ReplicaJob(
            source_connect="stream://microbatch",
            sink_connect=sink_connect,
            sink_table=sink_table,
            mode="incremental" if mode == "incremental" else "complete",
            sink_truncate=False,  # only consulted by the append path
            sink_user=sink_user,
            sink_password=sink_password,
            sink_params=dict(sink_params or {}),
        )
        if order_column is not None and mode == "incremental":
            from replicadb_spark.modes import sink_primary_keys

            if not pk_cache:
                pk_cache.extend(
                    pk_columns or sink_primary_keys(batch_df.sparkSession, job)
                )
            pks = list(pk_cache)
            colmap = {c.lower(): c for c in batch_df.columns}
            pks = [colmap.get(p.lower(), p) for p in pks]
            batch_df = latest_per_key(batch_df, pks, order_column)
        run_jdbc_mode(batch_df.sparkSession, job, batch_df)

    return _start_batches(source, checkpoint, _admitted(apply_batch))


def stream_ivf_append(
    source: DataFrame,
    index_path: str,
    checkpoint: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Continuous maintenance of the persisted IVF index
    (operators/ann_index): each micro-batch of newly-embedded vectors
    is assigned against the FROZEN codebook and appended into its cell
    partitions, so searches see new vectors as soon as their batch
    lands — the durable-layout twin of stream_semantic_dedup's
    fixed-codebook contract (rebuild with fresh centroids when the
    recall gate drops).

    Delivery: an at-least-once replay re-appends the same rows —
    duplicate neighbor ids with identical vectors and scores, which
    top-k dedupes poorly; run exactly-once sources (file/Kafka with
    checkpoint) or dedup on id downstream, the documented trade of
    any append-only index.

    Scale: per batch the zero-exchange argmax assign + a dynamic
    partition append touching only the batch's cells."""
    from replicadb_spark.operators.ann_index import append_to_ivf_index

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_to_ivf_index(
            batch_df, index_path, id_col=id_col, vec_col=vec_col
        )

    return _start_batches(source, checkpoint, _admitted(apply_batch))


def stream_minhash_screen(
    source: DataFrame,
    index_path: str,
    verdicts_path: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_jaccard: float = 0.5,
) -> StreamingQuery:
    """Twin #22: continuous near-dup SCREENING against the persisted
    MinHash index (operators/dedup_index) — the durable-store analog of
    stream_semantic_dedup's embedding screen.

    Per micro-batch: (1) the batch is sketched and APPENDED to the
    index first (the store is the have-I-seen-it memory — it retains
    every ingested document); (2) the batch is queried against the
    store; a document is a duplicate iff some EARLIER document (lower
    id — the incremental-ingest contract gives globally increasing ids)
    clears the signature-agreement threshold. Append-first makes one
    query serve both cross-batch AND intra-batch duplicates: a batch's
    own rows are already in the store when it screens, self-matches
    drop on the id equality filter, and higher-id matches are ignored
    — so verdicts are deterministic regardless of how rows split into
    Arrow batches.

    Verdicts land in ``verdicts_path/batch_id=N`` with mode=overwrite:
    an at-least-once REPLAY overwrites the same directory with
    identical content (the store's duplicate sketch rows from the
    re-append collapse under the query's distinct + aggregation), so
    the verdict stream is idempotent without a batch-id state guard.
    The duplicated store rows themselves are the documented
    append-only-index trade (stream_ivf_append) — compact with
    ann_index.compact_partition_dirs.

    Scale: per batch one broadcast probe against the band store
    (O(batch·bands + collisions), corpus side never shuffles) and one
    dynamic-partition append."""
    from replicadb_spark.operators.dedup_index import (
        append_to_minhash_index,
        query_minhash_index,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            append_to_minhash_index(
                batch_df, index_path, id_col=id_col, text_col=text_col
            )
            matches = query_minhash_index(
                spark, index_path, batch_df,
                id_col=id_col, text_col=text_col,
                min_est_jaccard=min_est_jaccard,
            ).where(F.col("match_id") < F.col("new_id"))
            best = matches.groupBy("new_id").agg(
                F.max(
                    F.struct(
                        F.col("est_jaccard").alias("e"),
                        (-F.col("match_id")).alias("negid"),
                    )
                ).alias("b")
            ).select(
                F.col("new_id").alias(id_col),
                F.lit(True).alias("is_dup"),
                (-F.col("b.negid")).alias("best_match_id"),
                F.col("b.e").alias("best_est_jaccard"),
            )
            verdicts = (
                batch_df.select(F.col(id_col))
                .join(best, id_col, "left")
                .select(
                    id_col,
                    F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
                    "best_match_id",
                    "best_est_jaccard",
                )
            )
            verdicts.write.mode("overwrite").parquet(
                f"{verdicts_path}/batch_id={batch_id}"
            )
        finally:
            batch_df.unpersist()

    return _start_batches(source, checkpoint, _admitted(apply_batch))


def stream_gopher_screen(
    source: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    id_cols: tuple = ("doc_id", "source"),
    text_col: str = "text",
) -> StreamingQuery:
    """Twin #23: the full 18-rule Gopher screen
    (functions/text.gopher_screen) applied CONTINUOUSLY to a document
    stream. The screen is a pure map-only projection — zero state, no
    watermark — so the streaming form is the batch plan run per
    micro-batch, written through the exactly-once parquet file sink
    (its commit log makes replays invisible downstream; no foreachBatch
    guard needed). This is the shape a 100 TB ingest runs: score and
    keep/drop documents as they land, not in a nightly sweep."""
    from replicadb_spark.functions.text import gopher_screen

    screened = gopher_screen(source, id_cols=id_cols, text_col=text_col)
    return stream_file_replica(
        screened, out_path, checkpoint
    )


def stream_bucketed_replica(
    source: DataFrame,
    table: str,
    path: str,
    checkpoint: str,
    *,
    pk_columns: "list[str]",
    bucket_cols: "list[str] | tuple[str, ...]",
    n_buckets: int,
    sort_cols: "list[str] | tuple[str, ...] | None" = None,
    order_column: "str | None" = None,
) -> StreamingQuery:
    """Twin #24: continuous replication into the BUCKETED layout —
    stream_jdbc_replica's semantics with sinks/files.upsert_bucketed_table
    as the merge engine, composing the reference's incremental mode (M3)
    with the 100 TB co-located-join layout per micro-batch.

    Delivery: the upsert is a full-payload last-wins MERGE per PK —
    replay-idempotent, no batch-id guard needed (the
    stream_jdbc_replica argument; the test proves a replayed batch
    leaves the table unchanged). Multi-update batches are legal:
    ``upsert_dataframe``'s last-wins window (ordered by
    ``order_column``) compacts them inside the merge — unlike the SQL
    MERGE path there is no single-source-match restriction.

    Scale: per batch, only the buckets the batch's keys hash into are
    read and rewritten (K/N of the table for a K-bucket delta); every
    downstream join on the bucket key keeps the zero-Exchange
    contract, continuously.

    Cache note: foreachBatch hands each micro-batch a CLONED session
    whose SessionCatalog has its own file-index cache — the upsert's
    internal refreshTable only invalidates the clone, so the
    stream-OWNING session would keep serving the pre-surgery file list
    (FILE_NOT_EXIST on the moved victims). The twin therefore
    refreshes the table on the session that created the stream after
    every batch; other concurrent sessions carry the usual
    external-table-mutation caveat (refresh before reading)."""
    from replicadb_spark.sinks.files import upsert_bucketed_table

    owner = source.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_bucketed_table(
            batch_df.sparkSession,
            batch_df,
            table,
            pk_columns=list(pk_columns),
            bucket_cols=bucket_cols,
            n_buckets=n_buckets,
            sort_cols=sort_cols,
            path=path,
            order_column=order_column,
        )
        owner.catalog.refreshTable(table)

    return _start_batches(source, checkpoint, _admitted(apply_batch))


def stream_snapshot_ingest(
    source: DataFrame,
    table_path: str,
    checkpoint: str,
    *,
    stat_columns: "list[str] | None" = None,
) -> StreamingQuery:
    """Twin #25: EXACTLY-ONCE continuous ingestion into the snapshot
    table (operators/snapshot_table) — each micro-batch becomes one
    atomic append commit whose record carries the micro-batch id, and
    a replayed batch (at-least-once foreachBatch delivery) is detected
    by ``last_committed_batch_id`` and skipped BEFORE any file lands.
    This is the strongest delivery contract in the twin family: the
    PSI-style batch-id guard persisted inside the table's own commit
    log, so the guard survives checkpoint loss on the WRITE side (a
    fresh checkpoint re-delivers batches 0..N and every one no-ops).

    Each commit also gives downstream readers time travel to any
    batch boundary and manifest data skipping over ``stat_columns`` —
    continuous ingestion with lakehouse read semantics.

    Scale: per batch O(batch) file writes + footer-only manifest +
    one atomic rename; the table is never rewritten."""
    from replicadb_spark.operators.snapshot_table import (
        snapshot_commit,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_commit(
            batch_df, table_path,
            stat_columns=stat_columns, meta={"batch_id": batch_id},
        )

    return _start_batches(
        source, checkpoint, _admitted(apply_batch, table_path)
    )


def stream_snapshot_changes(
    spark,
    table_path: str,
    out_path: str,
    checkpoint: str,
    *,
    pk_columns: "list[str]",
    change_col: str = "_change_type",
) -> StreamingQuery:
    """Twin #27: the CDC-OUT feed of the snapshot table — continuously
    walk newly committed snapshot ids and emit each commit's row-level
    changelog (operators/snapshot_table.snapshot_changes) EXACTLY-ONCE
    into ``out_path``, itself a snapshot table.

    The stream's SOURCE is the table's own commit log: every published
    commit is one immutable ``s-NNNNNN.json`` file under
    ``<table>/snapshots/``, so a plain file-source stream over that
    directory turns commits into micro-batch rows with no polling logic
    at all (in-flight ``.tmp`` records are dot-prefixed and therefore
    invisible to Spark's file listing — only PUBLISHED commits ever
    enter a batch).

    Delivery is the commit-log-watermark contract of
    stream_snapshot_ingest, pointed the other way: each emitted
    changelog is committed to the OUT table with the source snapshot id
    in its commit record, so ``last_committed_meta(out,
    'source_snapshot_id')`` is a watermark that survives checkpoint
    loss — a fresh checkpoint re-delivers every commit record and every
    one of them no-ops BEFORE any file lands. A compaction (or any
    no-net-change) commit yields an empty changelog by construction and
    burns NOTHING downstream: recomputing an empty diff on replay is
    free and idempotent, so empties advance no watermark.

    Per-commit cost is the snapshot_changes bound — churned files only,
    never the table. Retention contract (same as Delta/Iceberg CDF):
    the feed must run before ``snapshot_expire`` drops a commit's
    manifests; expired ids can no longer be diffed.

    The feed's rows are the changelog columns plus
    ``_source_snapshot_id``, and the OUT table gives downstream
    consumers time travel to any emitted commit boundary."""
    from replicadb_spark.fs import join as fs_join
    from replicadb_spark.operators.snapshot_table import (
        last_committed_meta,
        snapshot_changes,
        snapshot_commit,
    )

    commits = (
        spark.readStream
        .schema("snapshot_id long, parent_id long, operation string")
        .json(fs_join(table_path, "snapshots"))
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # commit records, not data: O(new commits) driver-side rows
        recs = sorted(
            (int(r["snapshot_id"]), int(r["parent_id"] or 0))
            for r in batch_df.dropDuplicates(["snapshot_id"]).collect()
        )
        if not recs:
            return
        bspark = batch_df.sparkSession
        wm = last_committed_meta(out_path, "source_snapshot_id")
        for sid, parent in recs:
            if wm is not None and sid <= wm:
                continue  # replayed commit record: already emitted
            log = snapshot_changes(
                bspark, table_path,
                pk_columns=list(pk_columns),
                from_snapshot=parent,
                to_snapshot=sid,
                change_col=change_col,
            ).persist()
            try:
                if log.isEmpty():
                    continue  # compaction / no-net-change commit
                snapshot_commit(
                    log.withColumn("_source_snapshot_id", F.lit(sid)),
                    out_path,
                    meta={"source_snapshot_id": sid},
                )
                wm = sid
            finally:
                log.unpersist()

    return _start_batches(commits, checkpoint, apply_batch, output_mode="append")


def stream_snapshot_replica(
    source: DataFrame,
    table_path: str,
    checkpoint: str,
    *,
    pk_columns: "list[str]",
    prune_column: "str | None" = None,
    order_column: "str | None" = None,
    evolve: bool = False,
) -> StreamingQuery:
    """Twin #26: continuous PK replication into the SNAPSHOT table —
    the reference's incremental mode (M3) with
    operators/snapshot_table.snapshot_upsert as the merge engine, the
    third continuous merge-capable sink (live JDBC → bucketed layout →
    snapshot/lakehouse layout). The first batch bootstraps the table
    with a plain commit; every later batch is one copy-on-write upsert
    whose victim set is manifest-pruned on ``prune_column`` (must be a
    PK column — see snapshot_upsert's mutability guard).

    Delivery: the upsert is replay-idempotent by construction, and the
    stream_snapshot_ingest batch-id guard (persisted in the commit log,
    so it survives write-side checkpoint loss) additionally skips
    replayed batches BEFORE they burn a snapshot id — the table's
    history stays one snapshot per delivered batch.

    Readers get what no other merge sink gives: time travel to the
    table AS OF any batch boundary plus data-skipping reads between
    commits. ``evolve=True`` forwards MERGE-with-schema-evolution to
    snapshot_upsert, so a stream RESTARTED against a source that grew
    a column absorbs the drift instead of dying — prior snapshots keep
    their own pinned schemas."""
    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_commit,
        snapshot_upsert,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = latest_per_key(batch_df, pk_columns, order_column)
        stat_cols = [prune_column] if prune_column else None
        if current_snapshot(table_path) is None:
            snapshot_commit(
                batch_df, table_path,
                stat_columns=stat_cols, meta={"batch_id": batch_id},
            )
            return
        snapshot_upsert(
            spark, table_path, batch_df,
            pk_columns=list(pk_columns),
            prune_column=prune_column,
            order_column=None,  # batch already compacted above
            meta={"batch_id": batch_id},
            evolve=evolve,
        )

    return _start_batches(
        source, checkpoint, _admitted(apply_batch, table_path)
    )


def stream_bucketed_snapshot_replica(
    source: DataFrame,
    table_path: str,
    checkpoint: str,
    *,
    pk_columns: "list[str]",
    bucket_cols: "list[str]",
    n_buckets: int,
    order_column: "str | None" = None,
) -> StreamingQuery:
    """Twin #28: continuous PK replication into the BUCKETED snapshot
    table (operators/snapshot_bucketed) — stream_snapshot_replica with
    the bridge as the merge engine. The first batch bootstraps the
    layout (bucketBy write, spec in the commit record); every later
    batch is one whole-bucket copy-on-write upsert that rewrites only
    the buckets its keys hash into. Same commit-log batch-id guard
    (survives checkpoint loss; replays no-op before any file lands).

    What the other merge sinks can't give, combined: time travel to
    every batch boundary AND zero-Exchange joins on the bucket key at
    every one of those boundaries (snapshot_read_bucketed registers
    any retained snapshot as a partitioned+bucketed table)."""
    from replicadb_spark.operators.snapshot_bucketed import (
        snapshot_commit_bucketed,
        snapshot_upsert_bucketed,
    )
    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = latest_per_key(batch_df, pk_columns, order_column)
        if current_snapshot(table_path) is None:
            snapshot_commit_bucketed(
                batch_df, table_path,
                bucket_cols=list(bucket_cols), n_buckets=n_buckets,
                meta={"batch_id": batch_id},
            )
            return
        snapshot_upsert_bucketed(
            spark, table_path, batch_df,
            pk_columns=list(pk_columns),
            order_column=None,  # batch already compacted above
            meta={"batch_id": batch_id},
        )

    return _start_batches(
        source, checkpoint, _admitted(apply_batch, table_path)
    )


def stream_dsir_screen(
    source: DataFrame,
    lr_table: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    threshold: float = 0.0,
    term_pattern: str = "[a-z0-9]+",
) -> StreamingQuery:
    """Twin #29: DSIR importance SCREENING applied continuously — the
    deployment shape of functions/text.dsir_importance: the log-ratio
    table is trained ONCE offline (dsir_logratio_table, persisted like
    the BPE merges or the MinHash index), and the stream scores each
    arriving document against it as a pure map-only projection: hash
    each term to its bucket (the same portable 31-fold poly hash),
    look the bucket up in the broadcast-as-literal 256-entry table,
    sum. Zero state, no watermark, exactly-once via the parquet sink's
    commit log — the same contract as the Gopher screen twin.

    Batch-equivalence caveat folded into the test: the stream sums
    per-OCCURRENCE in token order where the batch sums per-bucket
    (count x lr), so weights agree to float-jitter, not bit-for-bit —
    the screen's keep/drop decisions use a threshold, not a hash.

    Emits (id, n_terms, weight, keep)."""
    from replicadb_spark.functions.dedup import poly_hash

    rows = {r["b"]: r["lr"] for r in lr_table.collect()}  # n_buckets rows
    lr_arr = F.array(
        *[F.lit(float(rows.get(b, 0.0))) for b in range(n_buckets)]
    )
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(term_pattern), 0
    )
    weight = F.aggregate(
        F.transform(
            toks,
            lambda t: F.element_at(
                lr_arr, (poly_hash(t) % n_buckets).cast("int") + F.lit(1)
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    screened = source.select(
        F.col(id_col).alias("id"),
        F.size(toks).cast("long").alias("n_terms"),
        weight.alias("weight"),
    ).withColumn("keep", F.col("weight") >= F.lit(float(threshold)))
    return stream_file_replica(
        screened, out_path, checkpoint
    )


def stream_bpe_tokenize(
    source: DataFrame,
    merges: "list[tuple[bytes, bytes]]",
    out_path: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_ids: bool = False,
) -> StreamingQuery:
    """Twin #30: BPE tokenization applied CONTINUOUSLY — the tokenizer
    deployment shape end to end: merges are trained ONCE offline
    (functions/bpe.train_bpe, persisted via save_bpe) and every
    arriving document is tokenized by the same broadcast-ranks Arrow
    kernel the batch path uses (bpe_tokenize IS map-only, so the
    streaming form is the batch plan per micro-batch; zero state, no
    watermark, exactly-once via the parquet sink's commit log).
    ``with_ids=True`` streams the full token-ID arrays — the feed a
    continuous shard-packer consumes."""
    from replicadb_spark.functions.bpe import bpe_tokenize

    tok = bpe_tokenize(source, id_col, text_col, merges, with_ids=with_ids)
    return stream_file_replica(
        tok, out_path, checkpoint
    )


def stream_snapshot_cdc_replica(
    source: DataFrame,
    table_path: str,
    checkpoint: str,
    *,
    pk_columns: "list[str]",
    op_col: str = "op",
    delete_op: str = "D",
    prune_column: "str | None" = None,
    order_column: "str | None" = None,
    evolve: bool = False,
    update_columns: "list[str] | None" = None,
) -> StreamingQuery:
    """Twin #31: continuous CDC replication — insert/update/DELETE —
    into the snapshot table, ONE atomic commit per micro-batch via
    snapshot_merge's ``delete_when`` clause (Delta's WHEN MATCHED AND
    op='D' THEN DELETE shape). stream_snapshot_replica (#26) is the
    upsert-only M3 twin; this is the full changelog: a key whose
    NEWEST row in the batch (by ``order_column``) carries ``op_col ==
    delete_op`` leaves the table in the same commit that applies the
    batch's upserts — no reader ever sees the intermediate state a
    two-commit delete+upsert split would publish.

    Delivery: the merge is replay-idempotent (same net batch → same
    table), and the persisted batch-id guard skips replays before they
    burn a snapshot id. The op/order columns are changelog-side only —
    delete_when is evaluated before snapshot_merge's projection drops
    them. A FIRST batch bootstraps the table from its non-delete rows
    (tombstones for a not-yet-existing table are no-ops, exactly the
    semantics merge would apply).

    ``evolve=True`` (r13): a changelog whose schema GROWS mid-stream —
    a new column appearing after a source migration — merges with
    schema evolution in the same one-commit shape: the new column is
    added to the pinned table schema, pre-existing rows read it as
    null, and the op/order changelog-metadata columns stay excluded
    from evolution (snapshot_merge's ``evolve_exclude``). Restart the
    stream with the widened source schema; the checkpointed offsets
    and the batch-id guard carry across the restart.

    ``update_columns`` (r13): a PARTIAL-UPDATE changelog — each event
    carries only the key, the changed columns, and the op — replicates
    through snapshot_merge's column-subset SET: matched rows keep
    every unlisted column, inserts fill them with NULL, tombstones
    still evict. The replica must already EXIST (seed it with a full
    snapshot_commit): a partial changelog cannot define the table's
    schema, so a bootstrap under update_columns refuses loudly.

    No-op batches and batch-id gaps (ADVICE r13): a batch whose merge
    changes nothing (e.g. tombstones for absent keys) short-circuits
    inside snapshot_merge — no snapshot is published, so its
    ``batch_id`` is NOT recorded and ``last_committed_batch_id`` does
    not advance past it. Replay stays correct (re-applying a no-op is
    idempotent, and the guard's ``<=`` check needs only the highest
    EFFECTFUL batch), but a consumer auditing per-batch meta in the
    commit log will see gaps at the no-op ids — progress/audit trails
    must treat a missing batch id as "applied with no effect", not as
    "lost"."""
    from replicadb_spark.operators.snapshot_table import (
        current_snapshot,
        snapshot_commit,
        snapshot_merge,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = latest_per_key(batch_df, pk_columns, order_column)
        stat_cols = [prune_column] if prune_column else None
        is_del = F.col(op_col) == delete_op
        if current_snapshot(table_path) is None:
            if update_columns is not None:
                raise ValueError(
                    "partial-update CDC replica requires an existing "
                    f"table at {table_path} — a changelog carrying only "
                    f"{list(update_columns)} cannot define the replica's "
                    "schema; seed it with a full snapshot_commit first"
                )
            snapshot_commit(
                batch_df.where(~is_del).drop(op_col).drop(
                    *([order_column] if order_column else [])
                ),
                table_path,
                stat_columns=stat_cols, meta={"batch_id": batch_id},
            )
            return
        snapshot_merge(
            spark, table_path, batch_df,
            pk_columns=list(pk_columns),
            when_matched="update", when_not_matched="insert",
            delete_when=is_del,
            prune_column=prune_column,
            order_column=None,  # batch already compacted above
            meta={"batch_id": batch_id},
            evolve=evolve,
            # op/order are changelog metadata, never table columns —
            # without the exclusion evolve would add them to the table
            evolve_exclude=(op_col,)
            + ((order_column,) if order_column else ()),
            update_columns=update_columns,
        )

    return _start_batches(
        source, checkpoint, _admitted(apply_batch, table_path)
    )


def stream_weighted_reservoir(
    source: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    group_cols: "list[str]",
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "wrs-1",
) -> StreamingQuery:
    """Twin #32: a weighted reservoir (operators/sampling — exact-k
    per group, weight-proportional, Efraimidis–Spirakis A-Res)
    maintained CONTINUOUSLY: each micro-batch unions the arriving rows
    with the current reservoir and re-takes the per-group top-k by the
    deterministic A-Res key, committing the new reservoir as ONE
    ``mode='overwrite'`` snapshot (atomic swap + time-traveled history
    of every reservoir state + the batch-id replay guard).

    Streaming == batch EXACTLY, not approximately — including under
    ARBITRARY per-id weight drift across re-arrivals (the ADVICE r13
    concern: "an id evicted at a high weight that re-arrives lower
    ranks by the lower weight"). That schedule cannot diverge. Proof:
    the key k(w) = ln(u_id)/w is strictly INCREASING in w (ln(u) < 0),
    so an id's one-shot-batch key, k(max over all its arrival
    weights), equals the MAX over its per-arrival keys — the fold is a
    running top-k over per-arrival composite keys (key, id-tiebreak).
    A member's composite never decreases (visible re-arrivals collapse
    to max; its u is fixed), and displacement requires a strictly
    greater composite, so the reservoir's k-th composite is
    NONDECREASING over time. An id evicted (or refused entry) at time
    t had its then-maximal composite dominated by k composites that
    only grow; any forgotten earlier weight is therefore dominated at
    the end too, and a later re-arrival re-enters iff its fresh weight
    sets a new per-id max — in which case its recomputed key IS the
    true-history key. Hence membership, stored weights, keys, and
    ranks all equal a one-shot batch replay, per prefix. (Rounding
    keeps this: round() is monotone, and rounding ties fall into the
    composite id tiebreak.) Pinned by an adversarial evict-then-
    re-arrive-lower test and a randomized drift property test; no
    per-id weight history is kept — reservoir state stays k rows per
    group.

    Re-arrivals: the same id may appear in several batches (source
    replays, late duplicates); copies collapse to ONE candidate per
    (group, id) with the MAX weight — deterministic regardless of
    arrival order. Reservoir state is k rows per group — tiny — so the
    per-batch overwrite is metadata-cheap; readers always see a
    complete, committed reservoir."""
    from replicadb_spark.operators.sampling import weighted_reservoir_sample
    from replicadb_spark.operators.snapshot_table import (
        CommitRetryExhausted,
        ConcurrentCommitError,
        current_snapshot,
        snapshot_commit,
        snapshot_read,
    )

    cols = [*group_cols, id_col, weight_col]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # read-fold-commit rides the CAS precondition (r15): the fold
        # DERIVES from the tip it read, so a concurrent fold landing in
        # the window (a double-started twin instance) refuses the
        # publish instead of being silently erased — the loser re-reads
        # the winner's state and refolds, linearizing the two folds.
        spark = batch_df.sparkSession
        for _ in range(6):
            tip = current_snapshot(store_path)
            incoming = batch_df.select(*cols)
            if tip is not None:
                incoming = incoming.unionByName(
                    snapshot_read(
                        spark, store_path, snapshot_id=tip
                    ).select(*cols)
                )
            candidates = incoming.groupBy(*group_cols, id_col).agg(
                F.max(weight_col).alias(weight_col)
            )
            top = weighted_reservoir_sample(
                candidates, list(group_cols), id_col, weight_col,
                k=k, seed=seed,
            )
            # the store keeps the ranking columns too: a reader gets
            # usable (key, rank) provenance, and the next batch's union
            # re-derives them from scratch anyway (pure row functions)
            try:
                snapshot_commit(
                    top.select(*cols, "rsv_key", "rsv_rank"), store_path,
                    mode="overwrite", meta={"batch_id": batch_id},
                    expect_parent=tip if tip is not None else 0,
                )
                return
            except ConcurrentCommitError:
                continue
        raise CommitRetryExhausted(
            "stream_weighted_reservoir: lost the fold race repeatedly"
        )

    return _start_batches(
        source, checkpoint, _admitted(apply_batch, store_path)
    )


def stream_dedup_components(
    source: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> StreamingQuery:
    """Twin #33: duplicate-cluster assignments maintained CONTINUOUSLY
    as near-dup PAIRS stream in — the incremental form of the
    pairs → connected components → canonical-doc pipeline. Each
    micro-batch folds its edges into the stored (vertex, component)
    assignment via star contraction (operators/graph.merge_components:
    prior components are replayed as their label edges, so historical
    edges are NEVER re-read) and commits the updated assignment as ONE
    ``mode='overwrite'`` snapshot — atomic swap, time-traveled cluster
    history, batch-id replay guard.

    Streaming == batch EXACTLY: contraction preserves reachability and
    the min-id canonical label, so after every batch the store equals
    a from-scratch connected_components over ALL edges seen — the
    equivalence test replays cumulative prefixes and compares
    label-for-label, including cross-batch merges of previously
    separate clusters (the case incremental folds get wrong when they
    only relabel the new vertices)."""
    from replicadb_spark.operators.graph import merge_components
    from replicadb_spark.operators.snapshot_table import (
        CommitRetryExhausted,
        ConcurrentCommitError,
        current_snapshot,
        snapshot_commit,
        snapshot_read,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # read-fold-commit rides the CAS precondition (r15) — see
        # stream_weighted_reservoir: a concurrent fold in the window
        # refuses and refolds from the winner's labels instead of
        # erasing them (star contraction composes, so refolding this
        # batch's edges onto the winner's assignment stays exact).
        spark = batch_df.sparkSession
        for _ in range(6):
            tip = current_snapshot(store_path)
            prior = (
                snapshot_read(spark, store_path, snapshot_id=tip)
                if tip is not None
                else None
            )
            labels = merge_components(
                prior, batch_df.select(src, dst),
                src=src, dst=dst, max_iter=max_iter,
            )
            try:
                snapshot_commit(
                    labels, store_path, mode="overwrite",
                    meta={"batch_id": batch_id},
                    expect_parent=tip if tip is not None else 0,
                )
                return
            except ConcurrentCommitError:
                continue
        raise CommitRetryExhausted(
            "stream_dedup_components: lost the fold race repeatedly"
        )

    return _start_batches(
        source, checkpoint, _admitted(apply_batch, store_path)
    )


def additive_counts_view(
    spark: SparkSession,
    store_path: str,
    keys: "tuple[str, ...]",
    counts: "tuple[str, ...]" = ("n",),
    *,
    snapshot_id: "int | None" = None,
) -> DataFrame:
    """The summed count table over a :func:`stream_additive_counts`
    store: the store holds per-batch DELTA rows (plus periodic
    compactions), so the true total is ``SUM`` per key — one
    map-side-combined aggregate over the visible files.
    ``snapshot_id`` reads a time-traveled state (the totals as of that
    commit)."""
    from replicadb_spark.operators.snapshot_table import snapshot_read

    return (
        snapshot_read(spark, store_path, snapshot_id=snapshot_id)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in counts])
    )


def phrase_counts_view(
    spark: SparkSession,
    store_path: str,
    *,
    snapshot_id: "int | None" = None,
) -> DataFrame:
    """The summed (w1, w2, n) count table over a
    :func:`stream_phrase_counts` store (see
    :func:`additive_counts_view`). Feed the result to
    ``functions.text.phrase_scores_from_counts`` (unigram rows carry
    w2 = NULL, same as the batch operator)."""
    return additive_counts_view(
        spark, store_path, ("w1", "w2"), ("n",), snapshot_id=snapshot_id
    )


def sweep_compact_scratch(
    spark: SparkSession,
    store_path: str,
    *,
    grace_ms: int,
) -> "list[str]":
    """Reclaim hard-crash-orphaned ``compact-scratch-*`` dirs under an
    additive-counts store, sparing any dir whose mtime is younger than
    ``grace_ms`` — a LIVE peer compactor's in-flight spill (the age
    signal is :meth:`TableFS.mtime_ms`, the max of the dir's own and
    its direct children's mtimes, so a spill that just finished writing
    reads fresh even on schemes with lazy dir mtimes). Runs at the
    start of every compaction; returns the reclaimed dir names.

    A peer sweep deleting the same orphan first is the expected race
    (not-found mid-walk, swallowed); any OTHER failure — permissions,
    scheme errors — is surfaced as a RuntimeWarning rather than
    swallowed silently (ADVICE r15), because housekeeping must not
    fail the batch but must not hide real errors either."""
    import time as _time

    from replicadb_spark.fs import TableFS, join

    fs = TableFS(spark, store_path)
    now_ms = int(_time.time() * 1000)
    reclaimed: "list[str]" = []
    for name in fs.list_names(store_path):
        if not name.startswith("compact-scratch-"):
            continue
        p = join(store_path, name)
        try:
            # mtime_ms returns 0 for a vanished path (a racing delete
            # already won) — delete() below is then a harmless no-op
            if now_ms - fs.mtime_ms(p) > grace_ms:
                if fs.delete(p, recursive=True):
                    reclaimed.append(name)
        except Exception as e:  # noqa: BLE001 — race filter below
            s = str(e)
            if "FileNotFoundException" not in s and "No such file" not in s:
                import warnings

                warnings.warn(
                    f"compact-scratch orphan sweep failed on {p}: "
                    f"{e!r} — deferred to the next sweep",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return reclaimed


def stream_additive_counts(
    source: DataFrame,
    store_path: str,
    checkpoint: str,
    derive,
    keys: "tuple[str, ...]",
    counts: "tuple[str, ...]" = ("n",),
    *,
    compact_every: "int | None" = 16,
    scratch_orphan_grace_ms: int = 3_600_000,
) -> StreamingQuery:
    """The shared LSM-delta-log maintainer for ADDITIVE count stores —
    the machinery behind twins #34 (collocation counts) and #35
    (corpus n-gram counts), reusable for any statistic that folds by
    plain per-key addition (term df/cf tables, vocabulary growth,
    histogram bins). ``derive(batch_df) -> DataFrame`` produces the
    batch's own delta rows (``keys`` + ``counts`` columns); each
    micro-batch APPENDS them as one snapshot commit, so per-batch
    write cost ∝ the batch's distinct keys, NEVER the historical
    store (an in-place MERGE of a string-keyed totals table has no
    victim pruning — every batch would rewrite the accumulated table;
    the r14 code review caught exactly that in this design's first
    version). Reads SUM the log (:func:`additive_counts_view` — one
    map-side-combined aggregate).

    Compaction: after every ``compact_every``-th ADMITTED append
    (``None`` disables; the trigger counts admitted appends, not the
    snapshot id — compaction's own overwrite advances the id, so an
    id-based trigger fires every ``compact_every - 1`` batches), the
    fold collapses the log: spill the summed view — pinned to the tip
    it derives from — to a PER-ATTEMPT scratch dir under the store
    (``compact-scratch-<token>``; a fixed name would let a concurrent
    compactor overwrite the spill WHILE this attempt's commit reads
    it), then overwrite-commit the read-back scan with that tip as a
    CAS precondition (``expect_parent``). The two-phase spill keeps a
    100 TB key space streaming through executor tasks instead of
    pinned in non-reliable storage mid-commit; the CAS means a
    concurrent appender landing between spill and publish is never
    erased by the stale sum — on refusal the delta log is still exact
    and compaction re-fires next interval (the counter stays above
    the threshold). The scratch dir is deleted in a ``finally``
    whether the attempt wins or refuses; a CRASHED attempt's orphan —
    invisible to reads and GC, which walk ``data/snap-*`` manifests
    only — is reclaimed by the sweep at the start of every later
    compaction, sparing dirs younger than
    ``scratch_orphan_grace_ms`` (a LIVE concurrent compactor's
    in-flight spill — the expire orphan-grace precedent). The grace
    window must exceed the worst-case spill→commit latency of any
    live compactor: a peer sweeping an attempt's scratch mid-commit
    fails that attempt (the delta log stays exact — the CAS refuses
    nothing-published states — but the compaction is wasted work).
    The 1-hour default is ~3 orders of magnitude above the measured
    spill+commit path at gate scale; size it to YOUR store's p99.

    Streaming == batch value-for-value per prefix: summed deltas
    equal one-shot totals (addition is associative/commutative, batch
    composition is irrelevant). One atomic commit per batch with the
    shared replay guard (a replayed batch must not append its deltas
    twice); compaction reuses the SAME commit's batch id, so a crash
    between the append and its compaction replays into the guard and
    the log stays exact — compaction is pure housekeeping, deferred
    to the next interval (a restart also resets the admitted-append
    counter, deferring by at most one interval more)."""
    from replicadb_spark.fs import TableFS, join
    from replicadb_spark.operators.snapshot_table import (
        ConcurrentCommitError,
        current_snapshot,
        snapshot_commit,
    )

    appended_since_compact = [0]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        snapshot_commit(
            derive(batch_df), store_path, meta={"batch_id": batch_id}
        )
        appended_since_compact[0] += 1
        if (
            compact_every is not None
            and appended_since_compact[0] >= compact_every
        ):
            import uuid as _uuid

            fs = TableFS(spark, store_path)
            sweep_compact_scratch(
                spark, store_path, grace_ms=scratch_orphan_grace_ms
            )
            tip = current_snapshot(store_path)
            scratch = join(
                store_path, f"compact-scratch-{_uuid.uuid4().hex[:8]}"
            )
            try:
                additive_counts_view(
                    spark, store_path, keys, counts, snapshot_id=tip
                ).write.mode("overwrite").parquet(scratch)
                snapshot_commit(
                    spark.read.parquet(scratch),
                    store_path,
                    mode="overwrite",
                    meta={"batch_id": batch_id},
                    expect_parent=tip,
                )
                appended_since_compact[0] = 0
            except ConcurrentCommitError:
                return
            finally:
                fs.delete(scratch, recursive=True)

    return _start_batches(
        source, checkpoint, _admitted(apply_batch, store_path)
    )


def stream_phrase_counts(
    source: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    text_col: str = "text",
    term_pattern: str = "[a-z0-9]+",
    compact_every: "int | None" = 16,
    scratch_orphan_grace_ms: int = 3_600_000,
) -> StreamingQuery:
    """Twin #34: word2phrase collocation counts
    (functions/text.phrase_unit_counts — Mikolov et al. 2013)
    maintained CONTINUOUSLY as documents stream in — the
    :func:`stream_additive_counts` instance over (w1, w2) unit keys.
    Unigram rows carry w2 = NULL exactly like the batch operator — no
    sentinel encoding, no term_pattern footguns. Read through
    :func:`phrase_counts_view`; score with
    ``functions.text.phrase_scores_from_counts`` for streaming ==
    batch ranking value-for-value per prefix."""
    from replicadb_spark.functions.text import phrase_unit_counts

    return stream_additive_counts(
        source, store_path, checkpoint,
        lambda b: phrase_unit_counts(b, text_col, term_pattern=term_pattern),
        ("w1", "w2"), ("n",),
        compact_every=compact_every,
        scratch_orphan_grace_ms=scratch_orphan_grace_ms,
    )


def ngram_counts_view(
    spark: SparkSession,
    store_path: str,
    *,
    snapshot_id: "int | None" = None,
) -> DataFrame:
    """The summed (bigram, cnt) table over a
    :func:`stream_ngram_counts` store (see
    :func:`additive_counts_view`); ``ORDER BY cnt DESC, bigram LIMIT
    k`` on top reproduces the batch ngram_topk_corpus ranking
    exactly."""
    return additive_counts_view(
        spark, store_path, ("bigram",), ("cnt",), snapshot_id=snapshot_id
    )


def stream_ngram_counts(
    source: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    text_col: str = "text",
    compact_every: "int | None" = 16,
    scratch_orphan_grace_ms: int = 3_600_000,
) -> StreamingQuery:
    """Twin #35: corpus-wide bigram counts (the batch
    ngram_topk_corpus derivation: space-split tokens, adjacent
    concatenation) maintained CONTINUOUSLY — the second
    :func:`stream_additive_counts` instance, proving the delta-log
    machinery generalizes beyond collocation units. The top-k profile
    a template-contamination monitor reads is ``SUM`` + TakeOrdered
    over the log (:func:`ngram_counts_view`), exact at every prefix;
    per-batch cost ∝ the batch's distinct bigrams."""

    def derive(batch_df: DataFrame) -> DataFrame:
        t = batch_df.select(F.split(text_col, " ").alias("toks")).where(
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
        return b.groupBy("bigram").agg(F.count("*").alias("cnt"))

    return stream_additive_counts(
        source, store_path, checkpoint, derive, ("bigram",), ("cnt",),
        compact_every=compact_every,
        scratch_orphan_grace_ms=scratch_orphan_grace_ms,
    )
