"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

Smoke runs use ``--scale smoke`` (the sf0.001 test data, tiny inputs) and
start Spark, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics, run, tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cli(args: list[str], cwd: str = ROOT, timeout: int = 300):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=timeout)


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_every_per_layer_metric_is_annotated():
    spec = run.spec()
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    assert [m["name"] for m in spec["per_layer"]] == list(metrics.LAYER_ANNOTATIONS)
    e2e = [m["name"] for m in spec["end_to_end"]]
    for name, (workload, moves) in metrics.LAYER_ANNOTATIONS.items():
        assert workload in run.WORKLOADS + ["all"], name
        assert moves in e2e + ["none"], name


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_passes_its_checks(workload):
    proc = _cli(["--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", "0", "--scale", "smoke"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = _result(proc.stdout)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {m["name"] for m in run.spec()["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values()), out


def test_traced_smoke_run_reports_every_layer_metric():
    proc = _cli(["--workload", "replicate", "--seed", "7", "--seconds", "1",
                 "--trace", "1", "--scale", "smoke"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = _result(proc.stdout)
    assert out["correct"]
    assert set(out["metrics"]) == set(metrics.LAYER_ANNOTATIONS)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    for name in ("sinks.files.write_file.s", "sinks.jdbc.write_jdbc.s",
                 "modes.merge_write.s", "sources.jdbc.partitions", "spark.tasks",
                 "streaming.trigger_s", "operators.snapshot_table.snapshot_upsert.s",
                 "setup.session_s", "setup.cold_pass_s"):
        assert m[name] > 0, name
    assert m["cache.residual_frames"] == 0


def test_untraced_run_installs_no_wrappers_and_no_event_log(monkeypatch, capsys):
    conf = run.spark_conf("/unused", trace=False)
    assert not any(k.startswith("spark.eventLog") for k in conf)

    def refuse(self):
        raise AssertionError("tracing installed in an untraced run")

    monkeypatch.setattr(tracing.Tracer, "install", refuse)
    monkeypatch.setattr(tracing.Tracer, "__init__", lambda self, spark: refuse(self))
    assert run.main(["--workload", "replicate", "--seed", "7", "--seconds", "1",
                     "--trace", "0", "--scale", "smoke"]) == 0
    assert _result(capsys.readouterr().out)["correct"]
    import importlib

    for mod, attr in tracing.LAYERS:
        assert not hasattr(getattr(importlib.import_module(mod), attr), "__wrapped__")


def test_corrupted_sink_fails_the_check(monkeypatch, capsys):
    """A file sink that loses a row must fail its operations and the run."""
    from replicadb_spark.sinks import files

    write_file = files.write_file

    def lossy(df, path, fmt, **kw):
        if "l_orderkey" in df.columns:
            df = df.where("NOT (l_orderkey = 0 AND l_linenumber = 1)")
        return write_file(df, path, fmt, **kw)

    monkeypatch.setattr(files, "write_file", lossy)
    assert run.main(["--workload", "replicate", "--seed", "7", "--seconds", "1",
                     "--trace", "0", "--scale", "smoke"]) == 1
    out = _result(capsys.readouterr().out)
    assert not out["correct"]
    # complete, complete-atomic and incremental of the cold and two warm passes
    assert out["failed"] == 9


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _cli(["--workload", "replicate", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=str(tmp_path), timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
