"""Tests of the benchmark itself: the smoke run covers every span and every
per-layer metric, an oracle mismatch fails the run, a directory without the
program fails fast, and the event-log attribution adds up.

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import Span, attribute, read_event_log  # noqa: E402


def _run(args, cwd=ROOT, timeout=600):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def test_smoke_reports_every_layer_metric():
    rc, result = _run(["--smoke"])
    assert rc == 0
    assert result["correct"] and result["failed"] == 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _declared("per_layer")
    assert result["metrics"]["trace.unattributed_jobs"]["value"] == 0
    assert result["metrics"]["round.bloom_rounds"]["value"] == 0


def test_corrupted_oracle_digest_fails_the_run():
    rc, result = _run(["--smoke", "--corrupt-oracle"])
    assert rc != 0
    assert result["correct"] is False and result["failed"] >= 1


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, result = _run(
        ["--workload", "cron_ticks", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, timeout=180,
    )
    assert rc != 0 and result is None


def test_attribution_from_event_log(tmp_path):
    # two spans; job 0 and 1 in span a, job 2 in span b, job 3 has no group
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g:a#0"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g:a#0"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2500,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "g:b#1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2600},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 2700,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 2800},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Disk Bytes Spilled": 2_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 50}},
    ]
    app = tmp_path / "log" / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    (app / "events_1_local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    spans = [Span("a", "g:a#0", 0.9, 2.0), Span("b", "g:b#1", 2.4, 2.65)]
    per, unattributed = attribute(spans, read_event_log(str(tmp_path / "log")), (0.0, 3.0))
    assert unattributed == 1
    a, b = per["a"], per["b"]
    assert (a["jobs"], b["jobs"]) == (2, 1)
    assert a["task_s"] == pytest.approx(0.5) and b["task_s"] == pytest.approx(0.05)
    # span a: 1.1 s wall, jobs cover 1.0-1.6 → 0.5 s on the driver alone
    assert a["driver_s"] == pytest.approx(0.5)
    assert b["driver_s"] == pytest.approx(0.15)
    assert a["shuffle_mb"] == pytest.approx(1.0) and a["spill_mb"] == pytest.approx(2.0)
