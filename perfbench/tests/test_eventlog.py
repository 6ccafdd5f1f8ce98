"""Event-log parser against a small fixed log with two job groups, a
job with no group and jobs under groups the benchmark did not set.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

DATA = os.path.join(HERE, "data")
MB = 1024 * 1024


@pytest.fixture(scope="module")
def log():
    paths = eventlog.log_files(DATA)
    assert [os.path.basename(p) for p in paths] == ["events_1_local-1"]
    parsed = eventlog.parse(paths)
    eventlog.assign_by_time(parsed, {"w/p0/opB": (1900.0, 2800.0)})
    return parsed


def test_jobs_keep_their_group_and_stages(log):
    assert log["jobs"][0]["group"] == "w/p0/opA"
    assert log["jobs"][0]["stage_ids"] == [0, 1]
    assert log["jobs"][1]["end_ms"] == 2500
    assert 3 not in log["stages"]  # skipped stage: no task, no event


def test_groupless_job_is_assigned_by_submission_time(log):
    assert log["jobs"][2]["group"] == "w/p0/opB"


def test_foreign_group_job_is_assigned_by_submission_time(log):
    # a streaming micro-batch runs under the query's own group
    assert log["jobs"][3]["group"] == "w/p0/opB"
    # outside every op interval a foreign group is left as it is
    assert log["jobs"][4]["group"] == "other"


def test_stage_cpu_sums_equal_task_sums_per_group(log):
    groups = eventlog.by_group(log)
    assert set(groups) == {"w/p0/opA", "w/p0/opB", "other"}
    for g in groups.values():
        assert g["stage_cpu_s"] == pytest.approx(g["task_cpu_s"])
    a, b = groups["w/p0/opA"], groups["w/p0/opB"]
    assert a["task_cpu_s"] == pytest.approx(0.6)
    assert b["task_cpu_s"] == pytest.approx(0.65)


def test_group_totals(log):
    groups = eventlog.by_group(log)
    a, b = groups["w/p0/opA"], groups["w/p0/opB"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert (b["jobs"], b["stages"], b["tasks"]) == (3, 3, 4)
    assert a["gc_s"] == pytest.approx(0.03)
    assert a["input_mb"] == pytest.approx(4.0)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["shuffle_read_mb"] == pytest.approx(2.0)
    assert a["peak_exec_mb"] == pytest.approx(16.0)
    assert b["spill_mb"] == pytest.approx(3.0)
    assert b["input_mb"] == pytest.approx(1.0)
    assert b["peak_exec_mb"] == pytest.approx(32.0)
    assert sorted(b["job_spans_ms"]) == [(2000, 2500), (2600, 2700), (2720, 2780)]


def test_union_ms_merges_overlaps():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert eventlog.union_ms([(0, 10), (2, 3), (10, 12)]) == 12
    assert eventlog.union_ms([(0, 10), (3, None)]) == 10


def test_single_file_log(tmp_path):
    src = eventlog.log_files(DATA)[0]
    flat = tmp_path / "local-1"
    flat.write_text(open(src).read())
    parsed = eventlog.parse(eventlog.log_files(str(tmp_path)))
    assert sorted(parsed["jobs"]) == [0, 1, 2, 3, 4]
