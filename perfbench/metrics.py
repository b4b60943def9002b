"""Per-layer metric annotations, and the per-layer report of a traced run.

``BENCHMARK.json`` is the one list of metric names, units, directions
and bounds. Its keys are fixed, so the two facts it cannot hold live
here, for each per-layer metric: the workload that exercises its layer
and the end-to-end metric a change to that layer should move. On a
workload that does not reach a layer its metrics read 0: the wrappers
saw no call.

End-to-end metrics, reported untraced by every workload:
  setup_s       process start until get_spark and its first action are
                done, plus the cold pass (the first pass in the fresh
                session, on the same inputs as the warm ones): everything
                a run pays before its warm passes, first-touch costs
                included. One sample per run: each costs a JVM launch
  rows_per_s    rows of one pass over the sum of each operation's median
                wall across the warm passes: rows written by replication
                jobs (the delta for incremental, the rows read for the
                Derby read), rows in the drained CDC files, rows returned
                by the catalog lines
"""

from __future__ import annotations

import statistics

# per-layer metric -> (workload, end-to-end metric it should move).
# ``.s`` = mean seconds per call of the wrapped function; counts are per
# call unless named per pass or batch.
LAYER_ANNOTATIONS = {
    # engine / sources
    "engine.read_source.s": ("replicate", "rows_per_s"),
    "sources.scan_tasks": ("replicate", "rows_per_s"),
    "sources.jdbc.partitions": ("replicate", "rows_per_s"),
    "sources.jdbc.rows_per_partition_max": ("replicate", "rows_per_s"),
    "sources.jdbc.rows_per_partition_min": ("replicate", "rows_per_s"),
    # sinks.files
    "sinks.files.write_file.s": ("replicate", "rows_per_s"),
    "sinks.files.files_written": ("replicate", "rows_per_s"),
    "sinks.files.bytes_written": ("replicate", "rows_per_s"),
    # modes: file merge (incremental into a file sink)
    "modes.upsert_dataframe.s": ("replicate", "rows_per_s"),
    "modes.merge_write.s": ("replicate", "rows_per_s"),
    "modes.merge_rows_read": ("replicate", "rows_per_s"),
    "modes.merge_shuffle_bytes": ("replicate", "rows_per_s"),
    "modes.merge_spill_bytes": ("replicate", "rows_per_s"),
    # sinks.jdbc and the driver-side SQL of the JDBC modes
    "sinks.jdbc.write_jdbc.s": ("replicate", "rows_per_s"),
    "sinks.jdbc.write_tasks": ("replicate", "rows_per_s"),
    "sinks.jdbc.rows_per_task_max": ("replicate", "rows_per_s"),
    "modes.execute_sql.s": ("replicate", "rows_per_s"),
    "modes.execute_sql.calls": ("replicate", "rows_per_s"),
    "modes.sink_primary_keys.s": ("replicate", "rows_per_s"),
    # streaming.pipeline, from StreamingQuery.recentProgress durationMs
    "streaming.batches": ("replicate", "rows_per_s"),
    "streaming.trigger_s": ("replicate", "rows_per_s"),
    "streaming.add_batch_s": ("replicate", "rows_per_s"),
    "streaming.planning_s": ("replicate", "rows_per_s"),
    "streaming.wal_commit_s": ("replicate", "rows_per_s"),
    # numInputRows is what the source reports per trigger, NOT rows
    # delivered: foreachBatch bodies that scan the batch more than once
    # inflate it. rescan_factor = sum(numInputRows) / rows in the files.
    "streaming.rescan_factor": ("replicate", "rows_per_s"),
    # operators.snapshot_table: seconds per call of the wrapped functions
    # (last_committed_batch_id is the replay guard's per-batch cost), then
    # per-commit figures from snapshot_changed_files/snapshot_manifest
    "operators.snapshot_table.snapshot_upsert.s": ("replicate", "rows_per_s"),
    "operators.snapshot_table.snapshot_commit.s": ("replicate", "rows_per_s"),
    "operators.snapshot_table.last_committed_batch_id.s": ("replicate", "rows_per_s"),
    "snapshot_table.files_rewritten_per_batch": ("replicate", "rows_per_s"),
    "snapshot_table.victim_file_ratio": ("replicate", "rows_per_s"),
    "snapshot_table.bytes_rewritten_per_change_byte": ("replicate", "rows_per_s"),
    # plans.catalog, summed over the lines of one sweep
    "plans.build_s": ("catalog_sweep", "rows_per_s"),
    "plans.construct_jobs": ("catalog_sweep", "rows_per_s"),
    "plans.exec_s": ("catalog_sweep", "rows_per_s"),
    "plans.exec_jobs": ("catalog_sweep", "rows_per_s"),
    # Spark task counts over all traced program jobs (event log), per pass
    "spark.jobs": ("all", "rows_per_s"),
    "spark.tasks": ("all", "rows_per_s"),
    "spark.task_run_s": ("all", "rows_per_s"),
    "spark.task_cpu_s": ("all", "rows_per_s"),
    "spark.gc_s": ("all", "rows_per_s"),
    "spark.input_bytes": ("all", "rows_per_s"),
    "spark.shuffle_write_bytes": ("all", "rows_per_s"),
    "spark.spill_bytes": ("all", "rows_per_s"),
    # task run time / (job wall x cores)
    "spark.exec_core_utilization": ("all", "rows_per_s"),
    # session layouts (plans.catalog LAYOUT_LEDGER) and cache hygiene
    "session.layout_build_s": ("catalog_sweep", "setup_s"),
    "session.layout_bytes": ("catalog_sweep", "setup_s"),
    "cache.residual_frames": ("catalog_sweep", "none"),  # must stay 0
    # the two parts of setup_s: session start, cold pass
    "setup.session_s": ("all", "setup_s"),
    "setup.cold_pass_s": ("all", "setup_s"),
    # driver Python plus JVM VmHWM of the traced run. Not an end-to-end
    # gate: the JVM's high-water mark moves 10-25 % between identical runs
    # with GC heap sizing, wider than any bound a gate could hold.
    "driver.peak_rss_mb": ("all", "none"),
    # traced warm-pass wall minus that of its untraced neighbours (median
    # over the traced passes), same process
    "trace.overhead_s": ("all", "none"),
    "trace.overhead_pct": ("all", "none"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_report(tracer, groups: dict, extra: dict, traced: list, untraced: list,
                 cores: int, rss_mb: float) -> dict:
    """Per-layer values from the spans, the event-log job groups and the
    workload's own ``extra`` numbers. ``traced``/``untraced`` are the
    warm passes run with and without the wrappers."""
    from perfbench.tracing import merged

    n_pass = max(len(traced), 1)

    def secs(name):
        return _mean(s.seconds for s in tracer.select(name))

    # file-sink writes of the file.* operations (the Derby read also
    # lands in write_file, but its cost is the JDBC scan)
    file_writes = [s for s in tracer.select("sinks.files.write_file")
                   if (s.parent or "").startswith("op:file.")]

    reads = tracer.select("engine.read_source")
    program = merged(groups, lambda g: g.startswith("op:"))
    jdbc_read = merged(groups, lambda g: g.startswith("op:jdbc.read>"))
    jdbc_write = merged(groups, lambda g: g.endswith("sinks.jdbc.write_jdbc"))
    merge = merged(groups, lambda g: "run_file_mode:incremental>sinks.files.write_file" in g)
    merge_writes = [s for s in tracer.select("sinks.files.write_file")
                    if "run_file_mode:incremental" in (s.parent or "")]
    merge_calls = max(len(merge_writes), 1)
    build = merged(groups, lambda g: g.startswith("op:plans.build:"))
    execs = merged(groups, lambda g: g.startswith("op:plans.exec:"))
    write_calls = max(tracer.calls("sinks.jdbc.write_jdbc"), 1)
    # each traced pass against the mean of the untraced passes either side
    # of it (the run alternates, untraced first and last), which cancels
    # the warm-up trend across a run's passes
    t_off = [(a.wall + b.wall) / 2 for a, b in zip(untraced, untraced[1:])]
    overhead = statistics.median(t.wall - off for t, off in zip(traced, t_off))
    out = {
        "engine.read_source.s": secs("engine.read_source"),
        "sources.scan_tasks": _mean(s.info["partitions"] for s in reads
                                    if s.info.get("source") == "file"),
        "sources.jdbc.partitions": _mean(s.info["partitions"] for s in reads
                                         if s.info.get("source") == "jdbc"),
        "sources.jdbc.rows_per_partition_max": max(jdbc_read.task_records, default=0),
        "sources.jdbc.rows_per_partition_min": min(jdbc_read.task_records, default=0),
        "sinks.files.write_file.s": _mean(s.seconds for s in file_writes),
        "sinks.files.files_written": _mean(s.info["files"] for s in file_writes),
        "sinks.files.bytes_written": _mean(s.info["bytes"] for s in file_writes),
        "modes.upsert_dataframe.s": secs("modes.upsert_dataframe"),
        "modes.merge_write.s": _mean(s.seconds for s in merge_writes),
        "modes.merge_rows_read": merge.input_records / merge_calls,
        "modes.merge_shuffle_bytes": merge.shuffle_write_bytes / merge_calls,
        "modes.merge_spill_bytes": merge.spill_bytes / merge_calls,
        "sinks.jdbc.write_jdbc.s": secs("sinks.jdbc.write_jdbc"),
        "sinks.jdbc.write_tasks": jdbc_write.tasks / write_calls,
        "sinks.jdbc.rows_per_task_max": max(jdbc_write.task_records, default=0),
        "modes.execute_sql.s": secs("modes.execute_sql"),
        "modes.execute_sql.calls": tracer.calls("modes.execute_sql") / n_pass,
        "modes.sink_primary_keys.s": secs("modes.sink_primary_keys"),
        "operators.snapshot_table.snapshot_upsert.s": secs("operators.snapshot_table.snapshot_upsert"),
        "operators.snapshot_table.snapshot_commit.s": secs("operators.snapshot_table.snapshot_commit"),
        "operators.snapshot_table.last_committed_batch_id.s": secs("operators.snapshot_table.last_committed_batch_id"),
        "plans.construct_jobs": build.jobs / n_pass,
        "plans.exec_jobs": execs.jobs / n_pass,
        "spark.jobs": program.jobs / n_pass,
        "spark.tasks": program.tasks / n_pass,
        "spark.task_run_s": program.task_run_s / n_pass,
        "spark.task_cpu_s": program.task_cpu_s / n_pass,
        "spark.gc_s": program.gc_s / n_pass,
        "spark.input_bytes": program.input_bytes / n_pass,
        "spark.shuffle_write_bytes": program.shuffle_write_bytes / n_pass,
        "spark.spill_bytes": program.spill_bytes / n_pass,
        "spark.exec_core_utilization": program.utilization(cores),
        "driver.peak_rss_mb": rss_mb,
        "trace.overhead_s": overhead,
        "trace.overhead_pct": 100.0 * overhead / statistics.median(t_off),
    }
    out.update(extra)
    return {name: out.get(name, 0.0) for name in LAYER_ANNOTATIONS}
