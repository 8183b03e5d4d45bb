import os

import pytest

from perfbench import eventlog
from perfbench.tracing import Tracer

LOGS = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")


@pytest.fixture(scope="module")
def ops():
    files = eventlog.event_files(LOGS, "local-1")
    return eventlog.summarize(eventlog.read_events(files), "perfbench:")


def test_rolled_files_read_in_index_order():
    files = eventlog.event_files(LOGS, "local-1")
    assert [os.path.basename(f) for f in files] == ["events_2_local-1", "events_10_local-1"]
    assert eventlog.event_files(LOGS, "local-2") == []


def test_only_described_jobs_are_kept(ops):
    assert list(ops) == ["perfbench:op0"]
    op = ops["perfbench:op0"]
    assert op.jobs == [[0, 1000, 1420]]
    assert sorted(t["task"] for t in op.tasks) == [0, 1, 2]  # task 3 is job 1's


def test_task_metrics_and_sql_metrics_are_summed(ops):
    s = ops["perfbench:op0"].sums
    assert s["input_rows"] == 10 and s["input_bytes"] == 100
    assert s["scan_ms"] == 5
    assert s["py_bytes_received"] == 1200
    assert s["py_run_ms"] == 370
    assert s["rows_written"] == 12
    assert s["task_run_ms"] == 440
    assert s["task_cpu_ms"] == pytest.approx(3.0)
    assert s["shuffle_write_ms"] == pytest.approx(6.0)
    assert s["fetch_wait_ms"] == 12
    assert s["gc_ms"] == 3


def test_output_rows_counted_only_at_the_python_node(ops):
    # the scan's and the writer's "number of output rows" are not Python rows
    assert ops["perfbench:op0"].sums["py_rows_received"] == 12


def test_job_commit_time_from_driver_updates(ops):
    assert ops["perfbench:op0"].sums["job_commit_ms"] == 42


def test_udf_stage_skew(ops):
    # one Python stage with run times 100 and 300: max / median = 300 / 200
    assert ops["perfbench:op0"].udf_stage_skews() == [1.5]


def test_spans_nest_task_in_stage_in_job(ops):
    tracer = Tracer()
    root = tracer.add("bulk.job", 0, 2_000_000_000, 7)
    eventlog.add_spans(tracer, ops["perfbench:op0"], 7, root)
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)
    (job,) = by_name["spark.job"]
    assert job["parent"] == root and job["start_ns"] == 1000 * 1_000_000
    assert {s["parent"] for s in by_name["spark.stage"]} == {job["id"]}
    stage_ids = {s["id"] for s in by_name["spark.stage"]}
    assert len(by_name["spark.task"]) == 3
    assert all(t["parent"] in stage_ids and t["trace"] == 7 for t in by_name["spark.task"])
