"""The event-log parser on a small recorded log: two job groups, two
jobs each, one of them a two-stage job with a skipped stage."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_jobs_stages_tasks_fold_into_their_groups():
    groups = eventlog.read(LOG)
    assert set(groups) == {"g|one", "g|two"}
    one, two = groups["g|one"], groups["g|two"]
    assert (one.jobs, one.stages, one.tasks) == (2, 2, 5)
    assert (two.jobs, two.stages, two.tasks) == (2, 2, 5)
    assert one.executor_run_s == pytest.approx(1.773)
    assert one.gc_s == pytest.approx(0.12)
    assert one.shuffle_write_bytes == one.shuffle_read_bytes == 921
    assert one.spill_bytes == 0
    assert two.executor_cpu_s == pytest.approx(0.554462523)


def test_driver_gap_is_call_time_outside_its_stages():
    one = eventlog.read(LOG)["g|one"]
    # stages ran 760.394-761.235 and 761.447-761.684 (epoch 1792211xxx s)
    start, end = 1792211760.0, 1792211762.0
    busy = (761.235 - 760.394) + (761.684 - 761.447)
    assert eventlog.busy_seconds(one.stage_spans, start, end) == pytest.approx(busy)
    assert eventlog.driver_gap(one, start, end) == pytest.approx(2.0 - busy)


def test_busy_seconds_merges_overlaps_and_clips():
    spans = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    assert eventlog.busy_seconds(spans, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert eventlog.busy_seconds([], 0.0, 10.0) == 0.0
