"""Tests of the benchmark's trace: the event-log parser and the counts.

Run from the repository root::

    python3 -m pytest perfbench/test_tracing.py -q

``test_parser_on_a_synthetic_log`` needs no Spark.  ``test_counts_repeat``
runs the ``mission`` workload three times (two traced runs and one timed
run, about a minute each) and checks that the per-call job, stage and task
counts repeat exactly, that the event log and the ``statusTracker`` agree,
and that every metric named in ``BENCHMARK.json`` is reported.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields})


def test_parser_on_a_synthetic_log(tmp_path):
    group = "pb.1.grid.run"
    props = {"Properties": {"spark.jobGroup.id": group}}
    task = {
        "Executor Run Time": 400,
        "Executor CPU Time": 3 * 10**8,
        "JVM GC Time": 10,
        "Shuffle Read Metrics": {
            "Remote Bytes Read": 0,
            "Local Bytes Read": 50,
            "Total Records Read": 5,
        },
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 70, "Shuffle Records Written": 7},
        "Disk Bytes Spilled": 0,
        "Input Metrics": {"Records Read": 0},
    }
    empty = {**task, "Shuffle Read Metrics": {}, "Shuffle Write Metrics": {}}
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000_000}, **props),
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 4}}, **props),
        _event("SparkListenerTaskEnd", **{"Stage ID": 4, "Task Metrics": task}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 4, "Task Metrics": empty}),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 4}}),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1001_000}),
        # a job outside the benchmark's groups is ignored
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1001_500}),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1001_600}),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(lines) + "\n")

    groups = tracing.parse_event_log(str(log))
    assert list(groups) == [group]
    assert tracing.eventlog_counts(groups, 1) == {"grid": {"jobs": 1, "stages": 1, "tasks": 2}}

    span = tracing.Span("grid.run", 1, 999.5, 1002.0, "op", group)
    m = tracing.layer_metrics(groups, [span], 1, "grid")
    assert m["executor_run_s"] == pytest.approx(0.8)
    assert m["executor_cpu_s"] == pytest.approx(0.6)
    assert m["shuffle_read_bytes"] == 50 and m["shuffle_write_bytes"] == 70
    assert m["driver_gap_s"] == pytest.approx(1.5)  # 2.5 s span, 1 s job
    assert m["empty_task_share"] == pytest.approx(0.5)


def test_self_time_subtracts_children():
    op = tracing.Span("op", 0, 0.0, 10.0, None, None)
    kids = [
        tracing.Span("shear.call", 0, 1.0, 4.0, "op", "g1"),
        tracing.Span("shear.call", 0, 3.0, 5.0, "op", "g2"),  # overlaps the first
        tracing.Span("grid.call", 0, 6.0, 7.0, "op", "g3"),
    ]
    assert tracing.self_time(op, [op, *kids]) == pytest.approx(10.0 - 4.0 - 1.0)


def _run(tmp_path, name: str, trace: int) -> tuple[dict, list]:
    counts = tmp_path / f"{name}.json"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", "mission",
            "--seed", "1",
            "--seconds", "1",
            "--trace", str(trace),
            "--ops", str(counts),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    return result, json.loads(counts.read_text())


def test_counts_repeat(tmp_path):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    traced = [_run(tmp_path, f"traced{i}", 1) for i in range(2)]
    timed = _run(tmp_path, "timed", 0)

    for result, _ in [*traced, timed]:
        assert result["correct"] and result["failed"] == 0
    for result, _ in traced:
        assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}
    assert set(timed[0]["metrics"]) == {m["name"] for m in spec["end_to_end"]}

    reference = traced[0][1][0]["eventlog_counts"]
    assert set(reference) == {"shear", "boundary", "grid", "velocity"}
    for _, ops in traced:
        for op in ops:
            assert op["eventlog_counts"] == reference
            assert op["counts"] == reference
    for op in timed[1]:
        assert op["counts"] == reference
