"""Replication-first benchmark for replicadb_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 5 --trace 0

Runs one workload in this fresh process on ``local[<cores>]``, then
prints the metrics as ``name value unit`` lines and, as the last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics with no tracing installed;
``--trace 1`` turns on the Spark event log and the layer wrappers and
reports the per-layer metrics. Exits 1 when an output check fails and
2 when the program under test cannot be imported.

Every file the run makes (inputs, sinks, Derby, Spark scratch, event
log) lives under ``.perfbench_tmp/`` in the checkout and is removed at
the end.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.metrics import layer_report  # noqa: E402


WORKLOADS = ["replicate", "catalog_sweep"]


def spec() -> dict:
    """BENCHMARK.json: the metric names, units, directions and bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build_workload(name: str, small: bool):
    from perfbench import workloads as W

    if name == "replicate":
        # order counts (the sf0.01 lineitem has ~4 lines per order); the
        # CDC backlog is (bootstrap rows, change files, rows per change file)
        return W.Replicate(file_orders=500 if small else 15_000,
                           jdbc_orders=1_000 if small else 10_000,
                           cdc=(1_000, 1, 50) if small else (5_000, 1, 2_000),
                           jobs=cores())
    if name == "catalog_sweep":
        from perfbench.lines import CATALOG_LINES

        return W.CatalogSweep(CATALOG_LINES)
    raise ValueError(name)


def worker_env(tmp: str) -> None:
    """Environment the Spark JVM and its Python workers inherit: the tree
    under test on PYTHONPATH, the core count, scratch dirs in ``tmp``."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/spark-local"
    os.environ["TMPDIR"] = f"{tmp}/pytmp"
    for d in ("spark-local", "pytmp", "jtmp", "derby", "eventlog", "out"):
        os.makedirs(f"{tmp}/{d}", exist_ok=True)


def spark_conf(tmp: str, trace: bool) -> dict:
    java_opts = " ".join([
        f"-Dderby.system.home={tmp}/derby",
        f"-Dderby.stream.error.file={tmp}/derby/derby.log",
        f"-Djava.io.tmpdir={tmp}/jtmp",
        "-Duser.timezone=UTC",
    ])
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": f"{tmp}/spark-warehouse",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{tmp}/eventlog",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    to exit (a later get_spark in this process launches a new one)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Driver Python plus JVM high-water resident set (VmHWM)."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def by_name(passes) -> dict[str, list]:
    """Operation name -> its operations over ``passes``."""
    by: dict[str, list] = {}
    for p in passes:
        for op in p.ops:
            by.setdefault(op.name, []).append(op)
    return by


def median_ops(passes) -> dict[str, tuple[float, int]]:
    """Operation name -> (median wall, median rows) over ``passes``."""
    return {k: (statistics.median(o.wall for o in ops), statistics.median(o.rows for o in ops))
            for k, ops in by_name(passes).items()}


def e2e_report(session_s: float, cold, warm) -> dict:
    """End-to-end values. Set-up is the session start plus the cold pass:
    everything a run pays before its warm passes. The warm figures rest on
    each operation's median over the warm passes (over replicate's two,
    their mean): throughput is a pass's rows over the sum of the median
    walls."""
    med = median_ops(warm)
    return {
        "setup_s": session_s + cold.wall,
        "rows_per_s": sum(r for _, r in med.values()) / sum(w for w, _ in med.values()),
    }


def per_op_lines(passes, tag: str) -> list[str]:
    """The per-operation-kind figures behind the headline metrics: rows/s
    per replication mode, per catalog line, per stream drain."""
    out = []
    for key, ops in by_name(passes).items():
        wall = sum(o.wall for o in ops)
        rows = sum(o.rows for o in ops)
        out.append(f"# {tag} {key}: n={len(ops)} p50={statistics.median(o.wall for o in ops):.4f}s "
                   f"rows/s={rows / wall if wall else 0:.1f}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full",
                    help="smoke = sf0.001 and tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    try:
        import replicadb_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing: {exc}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    worker_env(tmp)
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's directory is still there


def run(args, tmp: str) -> int:
    import duckdb

    from perfbench import tracing
    from perfbench.workloads import Ctx

    from replicadb_spark.session import get_spark

    trace = bool(args.trace)
    spark = get_spark(f"perfbench-{args.workload}", **spark_conf(tmp, trace))
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - T_START

        small = args.scale == "smoke"
        wl = build_workload(args.workload, small)
        ctx = Ctx(spark=spark, tmp=tmp, seed=args.seed, sf="0.001" if small else "0.01",
                  con=duckdb.connect())
        wl.prepare(ctx)
        tracer = tracing.Tracer(spark) if trace else None

        # pass 0 is cold; warm passes follow until they have taken
        # --seconds and the workload's minimum is met. A traced run
        # alternates untraced and traced warm passes, untraced first and
        # last, so the overhead estimate is not biased by warm-up.
        cold = wl.run_pass(ctx, 0)
        t0 = time.perf_counter()
        warm, traced, traced_ids = [], [], []
        i = 1
        while (len(warm) < (2 if trace else wl.min_warm)
               or (trace and (not traced or i % 2 == 1))
               or time.perf_counter() - t0 < args.seconds):
            on = trace and i % 2 == 0
            if on:
                tracer.install()
                ctx.tracer = tracer
            try:
                p = wl.run_pass(ctx, i)
            finally:
                if on:
                    tracer.uninstall()
                    ctx.tracer = None
            (traced if on else warm).append(p)
            if on:
                traced_ids.append(i)
            i += 1

        layers = wl.layer_metrics(ctx, traced_ids) if trace else {}
        layers.update({"setup.session_s": session_s, "setup.cold_pass_s": cold.wall})
        rss = peak_rss_mb(spark)
        wl.close(ctx)
        ctx.con.close()
    finally:
        stop_spark(spark)

    passes = [cold] + warm + traced
    ops = [op for p in passes for op in p.ops]
    failed = [op for op in ops if not op.ok]
    for op in failed:
        print(f"# FAILED {op.name}: {op.detail}")
    for line in per_op_lines([cold], "cold") + per_op_lines(warm, "warm"):
        print(line)
    print(f"# pass walls: cold {cold.wall:.3f}s, warm {[round(p.wall, 3) for p in warm]}, "
          f"traced {[round(p.wall, 3) for p in traced]}")

    if trace:
        groups = tracing.parse_event_log(f"{tmp}/eventlog", tracer.aliases)
        metrics = layer_report(tracer, groups, layers, traced, warm, cores(), rss)
        for g, st in sorted(groups.items()):
            if g:
                print(f"# group {g}: jobs={st.jobs} tasks={st.tasks} "
                      f"run={st.task_run_s:.3f}s cpu={st.task_cpu_s:.3f}s "
                      f"in={st.input_bytes}B shuffle={st.shuffle_write_bytes}B "
                      f"spill={st.spill_bytes}B util={st.utilization(cores()):.3f}")
    else:
        metrics = e2e_report(session_s, cold, warm)
    out = {}
    for m in spec()["per_layer" if trace else "end_to_end"]:
        value = float(metrics[m["name"]])
        out[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']} {value:.6g} {m['unit']}")
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": out}))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
