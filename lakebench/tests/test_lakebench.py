"""The benchmark's own tests: its definition file, its statistics, and a
small-seed smoke run of each workload through the real command.

    python3 -m pytest lakebench/tests -q

The smoke runs start Spark (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from lakebench import harness  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "lakebench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_metric_names_and_units():
    names = [m["name"] for key in ("end_to_end", "per_layer")
             for m in SPEC[key]] + [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m


def test_benchmark_definition():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 2 <= len(SPEC["workloads"]) <= 8
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert 1 <= SPEC["run_seconds"] <= 60


def test_tail_percentile_refused_below_ten_samples_beyond():
    with pytest.raises(ValueError):
        harness.tail_percentile([0.1] * 199, 95)
    assert harness.tail_percentile(list(range(200)), 95) == 190


def test_tracer_records_parents():
    tr = harness.Tracer()
    with tr.span("outer"):
        with tr.span("inner") as rec:
            rec["rows"] = 3
    inner, outer = tr.spans
    assert inner["parent"] == "outer" and inner["rows"] == 3
    assert outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 10**7,
            "JVM GC Time": 1, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Input Metrics": {"Records Read": 5}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 5000, "Stage IDs": [1]},
    ]
    (tmp_path / "local-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    log = harness.read_event_log(str(tmp_path))
    jobs = harness.jobs_in(log, [{"start": 0.5, "end": 2.0}])
    assert jobs == [0]
    assert harness.stage_total(log, jobs, "records_read") == 5
    assert harness.stage_total(log, jobs, "shuffle_write") == 7


def test_speed_probe_samples_until_stopped(tmp_path):
    probe = harness.SpeedProbe(str(tmp_path / "probe.txt"))
    start = time.time()
    time.sleep(1.0)
    probe.stop()
    assert probe.proc.returncode is not None
    assert len(probe.samples) >= 2
    assert probe.slowdown(start, time.time()) > 0
    with pytest.raises(ValueError):
        probe.slowdown(0.0, 1.0)


def test_tree_rss_counts_this_process():
    assert harness.tree_rss_bytes(os.getpid()) > 0


def test_fails_without_the_engine(tmp_path):
    """Run from a directory holding only BENCHMARK.json and the
    benchmark's files: no result line, non-zero exit."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1"], cwd=tmp_path)
    assert res.returncode != 0
    assert '"correct"' not in res.stdout


def _result(res) -> dict:
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-4000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_is_correct_and_matches_definition(workload):
    out = _result(_run(["--workload", workload, "--seed", "3",
                        "--seconds", "1", "--trace", "0"]))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_reports_per_layer_metrics():
    out = _result(_run(["--workload", "ingest_stream", "--seed", "3",
                        "--seconds", "1", "--trace", "1"]))
    metrics = out["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert metrics["cdc.apply.calls"]["value"] == 2
    assert metrics["cdc.apply.jobs_per_call"]["value"] > 0
    assert metrics["functions.html_extract.busy_s"]["value"] > 0
