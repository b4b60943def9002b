"""Traced run: spans around the program's public layer functions, Spark
jobs tagged per call, and the Spark event log parsed per tag.

Nothing here runs unless ``--trace 1`` is given. :class:`Tracer` patches
the module attributes listed in :data:`LAYERS` with wrappers that record
a span (layer, start, end, parent) and set the Spark job group to the
span path for the duration of the call, then restores the previous
group. ``uninstall`` puts the original functions back. The program
looks these functions up through their modules at call time, so the
wrappers see every call the replication engine and the streaming twin
make.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

# (module, attribute) pairs whose calls become spans; the span name is
# "<module without the package prefix>.<attribute>"
LAYERS = [
    ("replicadb_spark.engine", "run"),
    ("replicadb_spark.engine", "read_source"),
    ("replicadb_spark.sources.files", "read_file"),
    ("replicadb_spark.sources.jdbc", "read_jdbc"),
    ("replicadb_spark.sinks.files", "write_file"),
    ("replicadb_spark.sinks.jdbc", "write_jdbc"),
    ("replicadb_spark.modes", "run_file_mode"),
    ("replicadb_spark.modes", "run_jdbc_mode"),
    ("replicadb_spark.modes", "upsert_dataframe"),
    ("replicadb_spark.modes", "execute_sql"),
    ("replicadb_spark.modes", "sink_primary_keys"),
    ("replicadb_spark.streaming.pipeline", "stream_snapshot_replica"),
    ("replicadb_spark.operators.snapshot_table", "snapshot_commit"),
    ("replicadb_spark.operators.snapshot_table", "snapshot_upsert"),
    ("replicadb_spark.operators.snapshot_table", "last_committed_batch_id"),
]
PACKAGE = "replicadb_spark."
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def span_name(module: str, attr: str) -> str:
    return f"{module.removeprefix(PACKAGE)}.{attr}"


class Tracer:
    """Records spans in memory; ``group`` tags Spark jobs by span path."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        # span stacks by thread; a thread with an empty stack (a streaming
        # foreachBatch callback) parents its spans under the main thread's
        # current span, so they attribute to the benchmark step running
        self._stacks: dict[int, list[str]] = {}
        # job groups Spark set itself (a streaming query's run id) that
        # belong to a traced step: group -> span path
        self.aliases: dict[str, str] = {}
        self._saved: list[tuple[object, str, object]] = []

    # -- installing ------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr in LAYERS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(span_name(mod_name, attr), orig))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    # -- spans and job groups -------------------------------------------
    def _stack(self) -> list[str]:
        return self._stacks.setdefault(threading.get_ident(), [])

    def _parent(self) -> str | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        main = self._stacks.get(threading.main_thread().ident)
        return main[-1] if main else None

    def group(self, name: str, info: dict | None = None):
        return _SpanCtx(self, name, info)

    def _wrap(self, name: str, fn):
        hook = HOOKS.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            info = {}
            if name.endswith(("run_file_mode", "run_jdbc_mode")):
                info["mode"] = args[1].mode
            with self.group(name, info):
                out = fn(*args, **kwargs)
            if hook is not None:
                hook(info, args, out)
            return out

        return wrapper

    # -- reports ---------------------------------------------------------
    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def select(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, info: dict | None) -> None:
        self.tracer, self.name = tracer, name
        self.info = {} if info is None else info

    def __enter__(self):
        t = self.tracer
        self.parent = t._parent()
        label = self.name + (f":{self.info['mode']}" if "mode" in self.info else "")
        self.path = f"{self.parent}>{label}" if self.parent else label
        t._stack().append(self.path)
        sc = t.spark.sparkContext
        self.prev_group = sc.getLocalProperty(GROUP_KEY)
        sc.setLocalProperty(GROUP_KEY, self.path)
        self.start = time.perf_counter()
        return self.info

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        t.spark.sparkContext.setLocalProperty(GROUP_KEY, self.prev_group)
        t._stack().pop()
        t.spans.append(Span(self.name, self.start, end, self.parent, self.info))
        return False


def _partitions_hook(info, args, df) -> None:
    info["partitions"] = df.rdd.getNumPartitions()
    info["source"] = "jdbc" if args[1].source_connect.startswith("jdbc:") else "file"


def _files_written_hook(info, args, out) -> None:
    path = args[1]
    path = path[len("file://"):] if path.startswith("file://") else path
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    info["files"] = n
    info["bytes"] = size


# per-call counts recorded after the wrapped call returns, by span name
HOOKS = {
    "engine.read_source": _partitions_hook,
    "sinks.files.write_file": _files_written_hook,
}


# -- event log ---------------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    exec_wall_s: float = 0.0
    task_records: list = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                  "input_bytes", "input_records", "shuffle_write_bytes",
                  "spill_bytes", "exec_wall_s"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_records += other.task_records

    def utilization(self, cores: int) -> float:
        return self.task_run_s / (self.exec_wall_s * cores) if self.exec_wall_s else 0.0


def parse_event_log(log_dir: str, aliases: dict[str, str]) -> dict[str, GroupStats]:
    """Per job-group task metrics from the (uncompressed, unrolled) event
    log in ``log_dir``. Jobs without a group land under ``""``; a group
    in ``aliases`` is renamed."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupStats] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                    g = aliases.get(g, g)
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    out.setdefault(g, GroupStats()).jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        st = out[job_group[jid]]
                        st.exec_wall_s += ev["Completion Time"] / 1000.0 - job_start[jid]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    st = out.setdefault(stage_group.get(ev["Stage ID"], ""), GroupStats())
                    st.tasks += 1
                    st.task_run_s += m.get("Executor Run Time", 0) / 1000.0
                    st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    inp = m.get("Input Metrics") or {}
                    st.input_bytes += inp.get("Bytes Read", 0)
                    st.input_records += inp.get("Records Read", 0)
                    st.task_records.append(inp.get("Records Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def merged(groups: dict[str, GroupStats], pred) -> GroupStats:
    total = GroupStats()
    for g, st in groups.items():
        if pred(g):
            total.add(st)
    return total
