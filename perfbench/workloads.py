"""The benchmark's workloads.

A workload makes its inputs once (``prepare``, untimed), then runs
passes. A pass is a fixed sequence of operations on fresh sinks; each
operation is timed on its own and its output is checked against the
DuckDB oracle outside the timed region. The first pass of a run is the
cold one (first touch of every code path in a fresh session); the
later passes are the warm ones.

The program is driven only through its public entry points:
``engine.run``, ``streaming.pipeline.stream_snapshot_replica``,
``plans.catalog.QUERIES`` and ``session.get_spark``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench import check, gen


@dataclass
class Op:
    """One timed operation: ``wall`` seconds, ``rows`` moved, ``ok``
    when its output check passed."""

    name: str
    wall: float
    rows: int
    ok: bool
    detail: str = ""


@dataclass
class Pass:
    """A pass's operations and its wall, the sum of the operation walls."""

    ops: list[Op]
    wall: float


@dataclass
class Ctx:
    spark: object
    tmp: str
    seed: int
    sf: str                        # scale of the test data, see gen.sf_dir
    con: object                    # DuckDB connection of the output checks
    tracer: object = None          # tracing.Tracer while a pass is traced

    def group(self, name: str):
        """Job-group scope for a benchmark step (traced passes only)."""
        return self.tracer.group(name) if self.tracer else nullcontext()

    def out(self, name: str, i: int) -> str:
        """Fresh output path for pass ``i``; pass ``i - 1``'s is removed."""
        shutil.rmtree(f"{self.tmp}/out/{name}_{i - 1}", ignore_errors=True)
        return f"{self.tmp}/out/{name}_{i}"


def _err(what: str, exc: Exception) -> str:
    return f"{what}: {type(exc).__name__}: {exc}"[:300]


def _timed(ctx: Ctx, label: str, fn):
    """(result, wall, error) of ``fn`` run under job group ``label``. An
    error fails the operation, not the run."""
    with ctx.group(label):
        t0 = time.perf_counter()
        try:
            return fn(), time.perf_counter() - t0, None
        except Exception as exc:
            return None, time.perf_counter() - t0, _err("error", exc)


def _checked(ctx: Ctx, fn) -> tuple[bool, str]:
    """Run an output check; any error counts as a failed check."""
    try:
        with ctx.group("check"):
            return fn()
    except Exception as exc:  # a broken sink must fail its op, not the run
        return False, _err("check error", exc)


def _replication_op(ctx: Ctx, name: str, fn, verify) -> Op:
    res, wall, err = _timed(ctx, f"op:{name}", fn)
    if err:
        return Op(name, wall, 0, False, err)
    ok, why = _checked(ctx, verify)
    return Op(name, wall, res.rows, ok, why)


def _compare(got: tuple, want: tuple) -> tuple[bool, str]:
    return got == want, "" if got == want else f"digest {got} != expected {want}"


class Workload:
    name = ""
    # warm passes a run makes at least, after the cold one, so the median
    # never rests on one pass
    min_warm = 2

    def prepare(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def run_pass(self, ctx: Ctx, i: int) -> Pass:
        raise NotImplementedError

    def layer_metrics(self, ctx: Ctx, traced_passes: list[int]) -> dict:
        """Workload-specific per-layer numbers from the traced passes."""
        return {}

    def close(self, ctx: Ctx) -> None:
        """Release what the last pass left open."""


# -- replication -------------------------------------------------------------

LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]


@dataclass
class Inputs:
    """A replication source, its delta, and the oracle digests of the
    sink after a full load and after the merge."""

    src: str
    delta: str
    want_full: tuple
    want_merged: tuple


def _inputs(ctx: Ctx, tag: str, base, delta, cols: list[str], pk: list[str]) -> Inputs:
    d = f"{ctx.tmp}/in/{tag}"
    src = gen.write(base, f"{d}/base.parquet")
    dlt = gen.write(delta, f"{d}/delta.parquet")
    merged = check.upserted(check.parquet(src), check.parquet(dlt), pk)
    return Inputs(src, dlt, check.digest(ctx.con, check.parquet(src), cols, pk),
                  check.digest(ctx.con, merged, cols, pk))


class FileSink:
    """parquet → parquet on lineitem: complete, complete-atomic, then an
    incremental merge of a ~15 % delta on ``(l_orderkey, l_linenumber)``."""

    def inputs(self, ctx: Ctx, orders: int) -> Inputs:
        base = gen.lineitem(ctx.sf, orders)
        return _inputs(ctx, "lineitem", base, gen.lineitem_delta(base, ctx.seed),
                       LINEITEM_COLS, gen.LINEITEM_PK)

    def run(self, ctx: Ctx, i: int, inp: Inputs) -> list[Op]:
        from replicadb_spark import engine
        from replicadb_spark.options import ReplicaJob

        sink = ctx.out("lineitem", i)
        ops = []
        for mode, src, want in (("complete", inp.src, inp.want_full),
                                ("complete-atomic", inp.src, inp.want_full),
                                ("incremental", inp.delta, inp.want_merged)):
            job = ReplicaJob(
                source_connect=f"file://{src}", source_file_format="parquet",
                sink_connect=f"file://{sink}", sink_file_format="parquet",
                mode=mode, sink_params={"pk.columns": ",".join(gen.LINEITEM_PK)},
            )
            ops.append(_replication_op(
                ctx, f"file.{mode}", lambda: engine.run(ctx.spark, job),
                lambda: _compare(check.digest(ctx.con, check.parquet(sink + "/"),
                                              LINEITEM_COLS, gen.LINEITEM_PK), want)))
        return ops


class JdbcSink:
    """parquet → embedded Derby on orders in the three modes, each pass
    into a fresh database, then a partitioned Derby → parquet read."""

    def __init__(self, jobs: int) -> None:
        self.jobs = jobs  # partitions (and Derby connections) of the read

    def inputs(self, ctx: Ctx, orders: int) -> Inputs:
        base = gen.orders(ctx.sf, orders)
        return _inputs(ctx, "orders", base, gen.orders_delta(base, ctx.seed),
                       ORDERS_COLS, gen.ORDERS_PK)

    def drop(self, ctx: Ctx, i: int) -> None:
        """Shut pass ``i``'s database down, then delete it."""
        from py4j.protocol import Py4JJavaError

        from replicadb_spark.modes import execute_sql

        try:
            execute_sql(ctx.spark, f"jdbc:derby:{ctx.tmp}/derby/db{i};shutdown=true", [])
        except Py4JJavaError:
            pass  # Derby reports a clean shutdown as an SQLException
        shutil.rmtree(f"{ctx.tmp}/derby/db{i}", ignore_errors=True)

    def _derby(self, ctx: Ctx, i: int) -> str:
        from replicadb_spark.modes import execute_sql

        if i:
            self.drop(ctx, i - 1)
        url = f"jdbc:derby:{ctx.tmp}/derby/db{i};create=true"
        with ctx.group("setup"):
            execute_sql(ctx.spark, url, [
                "CREATE TABLE ORDERS (O_ORDERKEY BIGINT NOT NULL PRIMARY KEY, "
                "O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, "
                "O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(15))"])
        return url

    def _sink_digest(self, ctx: Ctx, url: str) -> tuple:
        tbl = (ctx.spark.read.format("jdbc").option("url", url)
               .option("dbtable", "ORDERS").load().toArrow())
        ctx.con.register("derby_sink", tbl)
        return check.digest(ctx.con, "derby_sink", ORDERS_COLS, gen.ORDERS_PK)

    def run(self, ctx: Ctx, i: int, inp: Inputs) -> list[Op]:
        from replicadb_spark import engine
        from replicadb_spark.options import ReplicaJob

        url = self._derby(ctx, i)
        ops = []
        for mode, src, want in (("complete", inp.src, inp.want_full),
                                ("complete-atomic", inp.src, inp.want_full),
                                ("incremental", inp.delta, inp.want_merged)):
            job = ReplicaJob(source_connect=f"file://{src}", source_file_format="parquet",
                             sink_connect=url, sink_table="ORDERS", mode=mode)
            ops.append(_replication_op(
                ctx, f"jdbc.{mode}", lambda: engine.run(ctx.spark, job),
                lambda: _compare(self._sink_digest(ctx, url), want)))
        out = ctx.out("orders_read", i)
        job = ReplicaJob(source_connect=url, source_table="ORDERS",
                         sink_connect=f"file://{out}", sink_file_format="parquet",
                         mode="complete", jobs=self.jobs, source_split_by="O_ORDERKEY")
        ops.append(_replication_op(
            ctx, "jdbc.read", lambda: engine.run(ctx.spark, job),
            lambda: _compare(check.digest(ctx.con, check.parquet(out + "/"), ORDERS_COLS,
                                          gen.ORDERS_PK), inp.want_merged)))
        return ops


# -- CDC stream --------------------------------------------------------------

@dataclass
class Backlog:
    """A staged CDC backlog and the oracle digest of its final state."""

    src: str
    files: list[str]
    rows: list[int]
    bytes: list[int]
    want: tuple


class CdcSink:
    """``stream_snapshot_replica`` drains a staged backlog (one bootstrap
    file, then ``changes`` change files, one file per trigger,
    AvailableNow) into a fresh snapshot table per pass: one ``cdc.drain``
    operation, its rows the rows in the backlog's files."""

    SCHEMA = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, "
              "o_orderpriority string, o_seq long")
    COLS = ORDERS_COLS + ["o_seq"]

    def __init__(self) -> None:
        self.traced = {"dur": {k: [] for k in ("triggerExecution", "addBatch",
                                               "queryPlanning", "walCommit")},
                       "input_rows": 0, "delivered": 0, "drains": 0,
                       "rewritten": [], "ratio": [], "amp": []}

    def inputs(self, ctx: Ctx, sizes: tuple[int, int, int]) -> Backlog:
        """``sizes`` = (bootstrap rows, change files, rows per change file)."""
        src = f"{ctx.tmp}/in/cdc"
        files = gen.cdc_backlog(src, ctx.sf, ctx.seed, *sizes)
        want = check.digest(ctx.con, check.last_wins(check.parquet(files), gen.ORDERS_PK,
                                                     "o_seq"), self.COLS, gen.ORDERS_PK)
        return Backlog(src, files, [pq.ParquetFile(f).metadata.num_rows for f in files],
                       [os.path.getsize(f) for f in files], want)

    def run(self, ctx: Ctx, i: int, b: Backlog) -> list[Op]:
        from replicadb_spark.operators.snapshot_table import current_snapshot, snapshot_read
        from replicadb_spark.streaming import pipeline

        spark = ctx.spark
        table, ck = ctx.out("snap", i), ctx.out("ck", i)

        def drain():
            stream = (spark.readStream.schema(self.SCHEMA)
                      .option("maxFilesPerTrigger", 1).parquet(b.src))
            q = pipeline.stream_snapshot_replica(
                stream, table, ck, pk_columns=gen.ORDERS_PK,
                prune_column="o_orderkey", order_column="o_seq")
            if ctx.tracer is not None:
                # the query tags its own jobs with its run id
                ctx.tracer.aliases[str(q.runId)] = "op:cdc.drain>streaming.query"
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress

        progress, wall, err = _timed(ctx, "op:cdc.drain", drain)
        if err:
            return [Op("cdc.drain", wall, 0, False, err)]
        batches = [p for p in (dict(x) for x in progress) if p.get("numInputRows", 0)]

        def verify():
            if len(batches) != len(b.files):
                return False, f"{len(batches)} batches for {len(b.files)} files"
            n_snap = current_snapshot(table)
            if n_snap != len(b.files):
                return False, f"current_snapshot {n_snap} != {len(b.files)}"
            ctx.con.register("snap", snapshot_read(spark, table).toArrow())
            return _compare(check.digest(ctx.con, "snap", self.COLS, gen.ORDERS_PK), b.want)

        ok, why = _checked(ctx, verify)
        if ctx.tracer is not None:
            with ctx.group("check"):
                self._trace_drain(ctx, table, b, batches)
        return [Op("cdc.drain", wall, sum(b.rows), ok, why)]

    def _trace_drain(self, ctx: Ctx, table: str, b: Backlog, batches: list[dict]) -> None:
        """Stream progress and per-commit rewrite figures of a traced drain."""
        from replicadb_spark.operators.snapshot_table import (
            snapshot_changed_files,
            snapshot_manifest,
        )

        t = self.traced
        for p, rows in zip(batches, b.rows):
            for k in t["dur"]:
                t["dur"][k].append(p["durationMs"].get(k, 0) / 1000.0)
            t["input_rows"] += p.get("numInputRows", 0)
            t["delivered"] += rows
        t["drains"] += 1
        for sid in range(2, len(b.files) + 1):
            added, removed = snapshot_changed_files(ctx.spark, table, sid - 1, sid)
            parent = (snapshot_manifest(ctx.spark, table, sid - 1)
                      .select("file").distinct().count())
            t["rewritten"].append(len(removed))
            t["ratio"].append(len(removed) / parent if parent else 0.0)
            t["amp"].append(sum(_file_size(table, f) for f in added) / b.bytes[sid - 1])

    def layer_metrics(self) -> dict:
        t = self.traced
        dur = t["dur"]
        return {
            "streaming.batches": len(dur["triggerExecution"]) / max(t["drains"], 1),
            "streaming.trigger_s": _median(dur["triggerExecution"]),
            "streaming.add_batch_s": _median(dur["addBatch"]),
            "streaming.planning_s": _median(dur["queryPlanning"]),
            "streaming.wal_commit_s": _median(dur["walCommit"]),
            "streaming.rescan_factor": t["input_rows"] / t["delivered"] if t["delivered"] else 0.0,
            "snapshot_table.files_rewritten_per_batch": _mean(t["rewritten"]),
            "snapshot_table.victim_file_ratio": _mean(t["ratio"]),
            "snapshot_table.bytes_rewritten_per_change_byte": _mean(t["amp"]),
        }


class Replicate(Workload):
    """Every replication path in every pass: the parquet sink (bulk bytes,
    read-merge-rename), the Derby sink (JDBC row transfer, sink-side SQL)
    and the CDC stream into a snapshot table (streaming admission,
    snapshot commit/upsert); their operations are named ``file.*``,
    ``jdbc.*`` and ``cdc.drain``. Every pass runs on the same inputs, the
    cold one too, so its first-touch cost includes the JIT warm-up that
    only the full volume triggers."""

    name = "replicate"

    def __init__(self, file_orders: int, jdbc_orders: int,
                 cdc: tuple[int, int, int], jobs: int) -> None:
        self.jdbc = JdbcSink(jobs)
        self.cdc = CdcSink()
        self.sinks = ((FileSink(), file_orders), (self.jdbc, jdbc_orders), (self.cdc, cdc))
        self.last = 0

    def prepare(self, ctx: Ctx) -> None:
        self.inputs = [sink.inputs(ctx, size) for sink, size in self.sinks]

    def run_pass(self, ctx: Ctx, i: int) -> Pass:
        ops = []
        for (sink, _), inp in zip(self.sinks, self.inputs):
            ops += sink.run(ctx, i, inp)
        self.last = i
        return Pass(ops, sum(op.wall for op in ops))

    def layer_metrics(self, ctx: Ctx, traced_passes: list[int]) -> dict:
        return self.cdc.layer_metrics()

    def close(self, ctx: Ctx) -> None:
        self.jdbc.drop(ctx, self.last)


def _file_size(table: str, f: str) -> int:
    p = f[len("file:"):] if f.startswith("file:") else f
    p = p if os.path.isabs(p) else os.path.join(table, p)
    return os.path.getsize(p)


# -- catalog -----------------------------------------------------------------

class CatalogSweep(Workload):
    """A sweep over catalog lines on the test data: each
    line's plan is built, then materialized with ``count()``, like the
    project's bench. The first sweep is cold, later sweeps are warm."""

    name = "catalog_sweep"
    # a warm sweep is short, and the JIT keeps speeding the lines up over
    # the first few: the median of eight lands past most of that drift
    min_warm = 8

    def __init__(self, lines: list[str]) -> None:
        self.lines = lines

    def prepare(self, ctx: Ctx) -> None:
        from replicadb_spark.plans.catalog import ORACLES

        self.sf_dir = gen.sf_dir(ctx.sf)
        for f in sorted(os.listdir(self.sf_dir)):
            ctx.con.execute(f"CREATE OR REPLACE VIEW {f.removesuffix('.parquet')} AS "
                            f"SELECT * FROM '{self.sf_dir}/{f}'")
        self.want = {q: ctx.con.execute(f"SELECT count(*) FROM ({ORACLES[q]})").fetchone()[0]
                     for q in self.lines}
        self.build: dict[int, list[float]] = {}
        self.exec: dict[int, list[float]] = {}
        self.residual = 0

    def run_pass(self, ctx: Ctx, i: int) -> Pass:
        from replicadb_spark.cache import persisted_df_count, release_caches
        from replicadb_spark.plans.catalog import QUERIES

        spark = ctx.spark
        ops, builds, execs = [], [], []
        for q in self.lines:
            df, t_build, err = _timed(ctx, f"op:plans.build:{q}",
                                      lambda: QUERIES[q](spark, self.sf_dir))
            n, t_exec, err = (None, 0.0, err) if err else _timed(
                ctx, f"op:plans.exec:{q}", df.count)
            release_caches(spark)
            self.residual = max(self.residual, persisted_df_count(spark))
            spark.catalog.clearCache()
            ok = err is None and n == self.want[q]
            ops.append(Op(q, t_build + t_exec, n or 0, ok,
                          err or ("" if ok else f"{n} rows, oracle {self.want[q]}")))
            builds.append(t_build)
            execs.append(t_exec)
        self.build[i], self.exec[i] = builds, execs
        return Pass(ops, sum(op.wall for op in ops))

    def layer_metrics(self, ctx: Ctx, traced_passes: list[int]) -> dict:
        from replicadb_spark.plans.catalog import LAYOUT_LEDGER

        n = max(len(traced_passes), 1)
        return {
            "plans.build_s": sum(sum(self.build[i]) for i in traced_passes) / n,
            "plans.exec_s": sum(sum(self.exec[i]) for i in traced_passes) / n,
            "session.layout_build_s": sum(v["build_seconds"] for v in LAYOUT_LEDGER.values()),
            "session.layout_bytes": sum(v["bytes"] for v in LAYOUT_LEDGER.values()),
            "cache.residual_frames": self.residual,
        }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
