"""The event-log parser on a tiny recorded log.

    python3 -m pytest perfbench/test_eventlog.py

``testdata/tiny_eventlog.jsonl`` is a pruned Spark 4.1 event log of two
benchmark operations: op 1 runs ``mapInPandas`` over 8 rows in 2 partitions
and a grouped count (jobs 0-1, stages 0-2, stage 1 skipped); op 2 counts a
4-row range (job 2, stage 3). Jobs 3-4 ran in another job group and must be
ignored. Its first line holds the ops' wall-clock windows in milliseconds.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "testdata", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def summary() -> dict[str, float]:
    header, *events = eventlog.load(LOG)
    windows = {int(op): (lo / 1e3, hi / 1e3)
               for op, (lo, hi) in header["op_windows"].items()}
    return eventlog.summarize(events, windows)


def test_jobs_stages_tasks_per_op(summary):
    assert summary["spark.jobs_per_op"] == 1.5          # jobs 0, 1, 2
    assert summary["spark.stages_per_op"] == 1.5        # stages 0, 2, 3 ran
    assert summary["spark.stages_skipped_frac"] == 0.25  # stage 1 of 4
    assert summary["spark.tasks_per_op"] == 2.0         # 2 + 1 + 1 tasks


def test_driver_gap_is_wall_minus_job_union(summary):
    # op 1: 5.238 s wall, jobs 2.195 s + 0.120 s; op 2: 0.145 s wall,
    # job 0.059 s
    want = ((5.238 - 2.195 - 0.120) + (0.145 - 0.059)) / 2
    assert summary["spark.driver_gap_s"] == pytest.approx(want, abs=1e-6)


def test_python_worker_metrics(summary):
    # two mapInPandas tasks, each sending 4 rows / 224 B, receiving 288 B
    assert summary["spark.python_rows_sent"] == 4.0
    assert summary["spark.python_bytes_sent"] == 224.0
    assert summary["spark.python_bytes_received"] == 288.0


def test_task_metrics_exclude_other_job_groups(summary):
    assert summary["spark.shuffle_write_bytes"] == 59.0
    assert summary["spark.shuffle_read_bytes"] == 59.0
    assert summary["spark.spill_bytes"] == 0.0
    # stages 0 and 3 read 8 + 4 range rows; stage 4 (other group) is not
    # counted
    assert summary["tables.scan_input_rows"] == 6.0
    assert summary["spark.executor_run_s"] == pytest.approx(
        (1.900 + 1.949 + 0.060 + 0.034) / 2)
