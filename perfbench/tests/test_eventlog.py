"""The event-log parser on a small recorded Spark 4.1 log.

The log was recorded from a ``local[2]`` session built by
``session.get_spark`` with the event log on: a ``mapInPandas`` collect
under one job group, a ``groupBy().count()`` collect (two jobs, one
shuffle) under another, and a collect outside any group. It keeps the
job, stage and task events the parser reads."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "events_small.zstd")
PANDAS = "demo:0:q_pandas:query.collect#2"
AGG = "demo:0:q_agg:query.collect#4"


@pytest.fixture(scope="module")
def summary():
    return eventlog.summarize(eventlog.read_events([LOG]))


def test_jobs_keyed_by_group(summary):
    by_group, jobs = summary
    assert set(by_group) == {PANDAS, AGG, None}
    assert [(j.id, j.group) for j in jobs] == [(0, PANDAS), (1, AGG), (2, AGG), (3, None)]
    assert all(j.end > j.start for j in jobs)
    assert by_group[AGG]["spark.jobs"] == 2
    # job 2 lists the reused map stage, which is skipped and not counted
    assert by_group[AGG]["spark.stages"] == 2
    assert by_group[AGG]["spark.tasks"] == 3


def test_task_metrics(summary):
    by_group, _ = summary
    agg = by_group[AGG]
    assert agg["spark.executor_run_s"] == pytest.approx(1.159)
    assert agg["spark.executor_cpu_s"] == pytest.approx(0.278545801)
    assert agg["spark.shuffle_write_mb"] == pytest.approx(770 / (1 << 20))
    assert agg["spark.shuffle_read_mb"] == agg["spark.shuffle_write_mb"]
    assert agg["python_worker.run_s"] == 0


def test_python_worker_metrics(summary):
    by_group, _ = summary
    py = by_group[PANDAS]
    assert py["python_worker.boot_s"] == pytest.approx(2.874)
    assert py["python_worker.init_s"] == pytest.approx(0.981)
    assert py["python_worker.run_s"] == pytest.approx(4.532)
    assert py["python_worker.sent_mb"] == pytest.approx(8608 / (1 << 20))
    assert py["python_worker.received_mb"] == pytest.approx(16448 / (1 << 20))
    assert by_group[None]["python_worker.run_s"] == 0


def test_find_log_reads_rolling_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_local-1.zstd").write_bytes(b"")
    (d / "appstatus_local-1").write_bytes(b"")
    assert [os.path.basename(p) for p in eventlog.find_log(str(tmp_path))] == [
        "events_1_local-1.zstd", "events_2_local-1.zstd", "events_10_local-1.zstd"]
