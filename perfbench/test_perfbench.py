"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
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
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import Tracer, quantile, read_event_log, task_totals_by_group  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    return run.load_spec(ROOT)


def test_metric_names_match_benchmark_json(spec):
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER.items())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_printed_blocks_are_exactly_the_listed_metrics(spec):
    values = {name: 1.5 for name in END_TO_END}
    e2e = run.select_metrics(spec, dict(values), trace=False)
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    assert all(v["unit"] == END_TO_END[k] for k, v in e2e.items())
    layers = run.select_metrics(spec, dict(values), trace=True)
    assert list(layers) == [m["name"] for m in spec["per_layer"]]
    assert layers["spark.action_s"]["value"] == 0.0  # untouched layer reads 0


def test_missing_or_unknown_metric_is_an_error(spec):
    values = {name: 1.0 for name in END_TO_END}
    del values["setup_s"]
    with pytest.raises(KeyError):
        run.select_metrics(spec, values, trace=False)
    values = {name: 1.0 for name in END_TO_END} | {"no.such_metric": 1.0}
    with pytest.raises(KeyError):
        run.select_metrics(spec, values, trace=False)


def _log(*events) -> list[str]:
    return [json.dumps(e) + "\n" for e in events]


EVENTS = (
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q#0/act"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
    {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 0,
        "Task Info": {"Launch Time": 1010, "Finish Time": 1250},
        "Task Metrics": {
            "Executor Run Time": 200,
            "Executor CPU Time": 150_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 64},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 128},
        },
    },
    {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 1,
        "Task Info": {"Launch Time": 1300, "Finish Time": 1400},
        "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 50_000_000},
    },
)


def test_event_log_parser_totals():
    totals = task_totals_by_group(read_event_log(_log(*EVENTS)))
    row = totals["q#0/act"]
    assert row["tasks"] == 2
    assert row["executor_run_s"] == pytest.approx(0.3)
    assert row["executor_cpu_s"] == pytest.approx(0.2)
    assert row["max_task_s"] == pytest.approx(0.24)
    assert row["task_wait_s"] == pytest.approx(0.01)  # stage 1 has no submit event
    assert (row["shuffle_read_bytes"], row["shuffle_write_bytes"]) == (64, 128)


def test_event_log_parser_empty_log():
    assert read_event_log([]) == []
    assert task_totals_by_group(read_event_log(["\n", ""])) == {}


def test_event_log_parser_truncated_log():
    lines = _log(*EVENTS)
    cut = lines[:3] + [lines[3][: len(lines[3]) // 2]]
    totals = task_totals_by_group(read_event_log(cut))
    assert totals["q#0/act"]["tasks"] == 1
    # cut inside the first line: nothing parses, nothing is reported
    assert task_totals_by_group(read_event_log([lines[0][:20]])) == {}


def test_tracer_self_time_and_disabled_tracer():
    tr = Tracer(True)
    with tr.span("op", op="a#0"):
        with tr.span("child"):
            pass
    table = tr.layer_table()
    assert table["op"]["count"] == table["child"]["count"] == 1
    assert table["op"]["self_s"] <= table["op"]["total_s"]
    assert tr.spans[1]["op"] == "a#0" and tr.spans[1]["parent"] == 0
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_quantile():
    assert quantile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert quantile([1.0, 2.0], 0.9) == pytest.approx(1.9)


def test_inputs_follow_the_seed():
    a, b, c = (gen.tables(seed, 0.001, 0.001) for seed in (7, 7, 8))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_batch", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
