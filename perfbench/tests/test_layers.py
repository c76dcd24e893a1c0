"""The event-log parser, the per-layer fold, and BENCHMARK.json's metric
lists against the names the benchmark prints."""

import json
import os

import pytest

import layers
import run
from conftest import ROOT


def _task(stage, cpu_ns, remote=0, local=0, written=0, mem_spill=0, disk_spill=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": n, "Update": str(v)} for n, v in accs]},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Memory Bytes Spilled": mem_spill, "Disk Bytes Spilled": disk_spill,
        },
    }


def _job(jid, group, stages, start, end):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def test_parse_event_log_groups_tasks_and_jobs(tmp_path):
    events = (
        _job(0, "fill", [0, 1], 1000, 3000)
        + [_task(0, 2_000_000_000, remote=5, local=7, written=11,
                 accs=[("data sent to Python workers", 100),
                       ("data returned from Python workers", 40),
                       ("number of output rows", 9)]),
           _task(1, 500_000_000, mem_spill=3, disk_spill=4)]
        # overlapping jobs of one group count their union once
        + _job(1, "plan", [2], 10_000, 12_000) + _job(2, "plan", [3], 11_000, 13_500)
        + [_task(2, 1_000_000_000)]
        + _job(3, None, [4], 20_000, 21_000) + [_task(4, 9_000_000_000)]
    )
    path = tmp_path / "events"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = layers.parse_event_log(str(path))
    assert set(groups) == {"fill", "plan"}
    fill = groups["fill"]
    assert fill["task_cpu_s"] == pytest.approx(2.5)
    assert fill["shuffle_read_bytes"] == 12
    assert fill["shuffle_write_bytes"] == 11
    assert fill["spill_bytes"] == 7
    assert fill["py_sent_bytes"] == 100
    assert fill["py_recv_bytes"] == 40
    assert fill["job_s"] == pytest.approx(2.0)
    assert groups["plan"]["job_s"] == pytest.approx(3.5)


def test_layer_metrics_subtracts_decode_from_sink_and_fills_every_name():
    walls = {"decode": 1.0, "sink": 1.5}
    groups = {"decode": {"task_cpu_s": 3.0}, "sink": {"task_cpu_s": 4.5}}
    out = layers.layer_metrics(walls, groups, {"sink.rows_out": 10}, untraced_wall_s=1.4)
    assert set(out) == set(layers.metric_units())
    assert out["sink.wall_s"] == pytest.approx(0.5)
    assert out["sink.task_cpu_s"] == pytest.approx(1.5)
    assert out["sink.rows_out"] == 10
    assert out["morphology.wall_s"] == 0.0
    # traced layer sum (decode + sink own) minus the untraced wall
    assert out["trace.overhead_s"] == pytest.approx(0.1)


def test_benchmark_json_names_match_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.metric_units()
    assert [w["name"] for w in spec["workloads"]] == ["masks_from_images", "module2_from_masks"]
