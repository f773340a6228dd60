"""Tests of the event-log folder on a recorded Spark 4.1 log excerpt.

Run from the repository root:

    python3 -m pytest perfbench/test_eventlog.py -q

``testdata/events_excerpt.jsonl`` was recorded from a traced run (job
groups ``t0:<layer>``; ``linkage.candidates`` built its plan under
``t0:linkage.candidates:build``, where its eager block census ran three
jobs: the two of an adaptive ``localCheckpoint`` and one ``isEmpty``) with
``spark.shuffle.spill.numElementsForceSpillThreshold`` lowered so that the
``t0:spill`` group spilled. The excerpt keeps the job, stage and task
events and drops bulky fields (RDD infos, accumulables).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import NO_GROUP, by_prefix, fold, log_files, read_events  # noqa: E402

EXCERPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "events_excerpt.jsonl")


def events():
    return list(read_events(EXCERPT))


def test_excerpt_groups_and_job_counts():
    g = fold(events())
    assert g["t0:linkage.candidates:build"].jobs == 3
    assert g["t0:linkage.candidates"].jobs >= 1
    assert g["t0:spill"].jobs >= 1
    starts = [e for e in events() if e["Event"] == "SparkListenerJobStart"]
    assert sum(t.jobs for t in g.values()) == len(starts)


def test_task_totals_match_the_raw_task_events():
    evs = events()
    g = fold(evs)
    ends = [e for e in evs if e["Event"] == "SparkListenerTaskEnd"]
    assert sum(t.tasks for t in g.values()) == len(ends)
    assert sum(t.task_ms for t in g.values()) == sum(
        e["Task Metrics"]["Executor Run Time"] for e in ends
    )
    completed = [e for e in evs if e["Event"] == "SparkListenerStageCompleted"]
    assert sum(t.stages for t in g.values()) == len(completed)


def test_shuffle_bytes_written_are_read_back():
    g = fold(events())
    # one repartition, read once
    assert g["t0:spill"].shuffle_read_bytes == g["t0:spill"].shuffle_write_bytes > 0
    # the within-block self-join reads its reused exchange on both sides
    t = g["t0:linkage.candidates"]
    assert t.shuffle_read_bytes > t.shuffle_write_bytes > 0


def test_spill_and_peak_execution_memory():
    g = fold(events())
    assert g["t0:spill"].spill_bytes > 0
    assert g["t0:linkage.candidates"].spill_bytes == 0
    assert all(t.peak_exec_bytes >= 0 for t in g.values())
    assert max(t.peak_exec_bytes for t in g.values()) > 0


def test_by_prefix_sums_sub_layers_and_build_phase():
    g = fold(events())
    whole = by_prefix(g, "t0:linkage")
    parts = [g["t0:linkage.candidates"], g["t0:linkage.candidates:build"]]
    assert whole.jobs == sum(p.jobs for p in parts)
    assert whole.task_ms == sum(p.task_ms for p in parts)
    assert by_prefix(g, "t0:linkage.cand").jobs == 0  # names, not string prefixes


def _job(job, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": props}


def _task(stage, run_ms, spill=0, peak=0, write=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": spill // 2,
            "Peak Execution Memory": peak,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


def test_a_stage_belongs_to_the_job_that_first_listed_it():
    g = fold([
        _job(0, [0, 1], "a"),
        _job(1, [1, 2], "b"),  # stage 1 is skipped here: it ran for job 0
        _task(1, 10),
        _task(2, 5),
    ])
    assert g["a"].task_ms == 10
    assert g["b"].task_ms == 5


def test_ungrouped_jobs_spill_and_peak():
    g = fold([
        _job(0, [0]),
        _task(0, 7, spill=100, peak=30, write=9),
        _task(0, 3, peak=50),
    ])
    t = g[NO_GROUP]
    assert (t.tasks, t.task_ms) == (2, 10)
    assert t.spill_bytes == 150
    assert t.peak_exec_bytes == 50
    assert t.shuffle_write_bytes == 9


def test_rolling_parts_are_read_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_local-1").write_text(json.dumps(_job(i, [i], f"g{i}")) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert [os.path.basename(p) for p in log_files(str(d))] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"
    ]
    assert [e["Job ID"] for e in read_events(str(d))] == [1, 2, 10]
