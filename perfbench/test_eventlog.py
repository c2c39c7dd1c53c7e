"""Unit tests of the event-log parser on a small checked-in Spark 4.1
event log (one aggregate with a shuffle, one parquet write).

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
from eventlog import Job  # noqa: E402


@pytest.fixture(scope="module")
def log():
    return eventlog.load(HERE / "testdata" / "eventlog.jsonl")


def test_jobs_stages_and_executions(log):
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[1].stages == [1, 2]
    assert [log.jobs[j].execution for j in (0, 1, 2)] == [0, 0, 1]
    assert all(j.end_ms >= j.submit_ms > 0 for j in log.jobs.values())


def test_task_metric_totals(log):
    tot = eventlog.spark_totals(log, list(log.jobs.values()))
    assert tot["jobs"] == 3
    assert tot["tasks"] == 5
    # stage 1 of job 1 is the reused map stage: skipped, no tasks
    assert tot["stages"] == 3
    assert tot["executor_run_s"] == pytest.approx(1.335)
    assert tot["shuffle_write_mb"] == pytest.approx(364e-6)
    assert tot["shuffle_read_mb"] == pytest.approx(364e-6)
    assert tot["output_mb"] == pytest.approx(1122e-6)
    assert tot["task_skew"] >= 1.0


def test_write_attribution_by_output_directory(log):
    write = log.jobs[2]
    assert log.output_of(write) == "/data/run/out/00001_emissions"
    assert log.writes_under(write, "/data/run/out")
    assert log.writes_under(write, "/data/run/out/")
    assert not log.writes_under(write, "/data/run/o")
    assert not log.writes_under(log.jobs[0], "/data/run")


def test_jobs_in_span_by_submission_time(log):
    j0, j2 = log.jobs[0], log.jobs[2]
    assert [j.id for j in log.jobs_in(j0.submit_ms, j0.end_ms)] == [0]
    assert [j.id for j in log.jobs_in(j2.submit_ms - 1, j2.end_ms)] == [2]
    write_only = eventlog.spark_totals(log, [j2])
    assert write_only["shuffle_write_mb"] == 0
    assert write_only["output_mb"] == pytest.approx(1122e-6)


def test_busy_ms_is_the_union_of_job_intervals():
    jobs = [Job(0, 100, 200), Job(1, 150, 250), Job(2, 400, 450)]
    assert eventlog.busy_ms(jobs, 0, 1000) == 200  # 100-250 and 400-450
    assert eventlog.busy_ms(jobs, 120, 420) == 150  # clipped both ends
    assert eventlog.busy_ms([], 0, 1000) == 0
