"""tools/profile_queries.py: the in-process profile of one registry query
with the Spark UI off, and the ``--cores`` helpers (no JVM spawned)."""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import subprocess
import sys

import pytest

from conftest import ORACLE_SF

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _tool():
    spec = importlib.util.spec_from_file_location(
        "profile_queries", os.path.join(TOOLS, "profile_queries.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_reports_counters_with_ui_off(spark):
    tool = _tool()
    rec = json.loads(json.dumps(tool.profile(spark, ["projection"], ORACLE_SF)))
    q = rec["queries"]["projection"]
    fields = {"cold_s", "steady_s", "build_s", "build_jobs", *tool.COUNTER_FIELDS}
    assert fields <= set(q)
    assert q["jobs"] >= 1
    assert q["stages"] >= q["jobs"]
    assert q["tasks"] >= q["stages"]
    assert spark.conf.get("spark.ui.enabled") == "false"
    assert rec["env"]["master"] == spark.sparkContext.master


def test_cores_parse_and_ratio():
    tool = _tool()
    assert tool.parse_cores("4,1,4") == [1, 4]
    for bad in ("0,2", ","):
        with pytest.raises(argparse.ArgumentTypeError):
            tool.parse_cores(bad)
    runs = {
        1: {"queries": {"a": {"steady_s": 4.0}, "b": {"steady_s": 1.0}}},
        4: {"queries": {"a": {"steady_s": 1.0}, "b": {"steady_s": 0.0}}},
    }
    assert tool.scaling_ratios(runs) == {"a": 4.0}


def test_cores_runs_one_child_per_count_and_surfaces_failure(monkeypatch, capsys):
    tool = _tool()
    calls = []

    def fake_run(cmd, env, **_):
        n = int(env["SPARK_GRAFT_CPUS"])
        calls.append((n, cmd[2:]))
        line = json.dumps({"queries": {"q": {"steady_s": 8.0 / n}}})
        return subprocess.CompletedProcess(cmd, 0, f"log\n{line}\n", "")

    monkeypatch.setattr(subprocess, "run", fake_run)
    nproc = len(os.sched_getaffinity(0))
    assert tool.main(["q", "--sf", "d", "--cores"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert [n for n, _ in calls] == sorted({1, nproc})
    assert calls[0][1] == ["q", "--sf", "d", "--repeats", "1"]
    assert out["ratio_low_over_high"] == {"q": float(nproc)}

    def failing_run(cmd, env, **_):
        return subprocess.CompletedProcess(cmd, 1, "", "boom\n")

    monkeypatch.setattr(subprocess, "run", failing_run)
    with pytest.raises(SystemExit, match="exit 1"):
        tool.run_per_core_count([2], ["q"])
    assert "boom" in capsys.readouterr().err


def test_no_tool_shadows_a_stdlib_module():
    """A script's own directory leads sys.path, so a tool named like a
    stdlib module (say ``profile.py``) breaks pyspark's imports in every
    script under tools/."""
    names = {f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py")}
    assert not names & sys.stdlib_module_names
