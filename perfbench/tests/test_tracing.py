"""The event-log reader and the plan-shape counter, against a small
recorded Spark 4.1 event log (trimmed to the events the reader uses)
and a recorded `explain()` output.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tracing import Span, plan_counts, read_event_log, tree_cpu_seconds, union_seconds  # noqa: E402


def test_event_log_totals_per_job_group():
    groups, intervals = read_event_log(os.path.join(HERE, "data", "eventlog.json"))
    assert set(groups) == {"p0/0/queries.build", "p0/1/spark.exec"}
    build, exec_ = groups["p0/0/queries.build"], groups["p0/1/spark.exec"]
    assert (build["jobs"], build["stages"], build["tasks"]) == (2, 2, 3)
    assert (exec_["jobs"], exec_["stages"], exec_["tasks"]) == (3, 3, 5)
    assert build["task_s"] == pytest.approx(4.202)
    assert build["cpu_s"] == pytest.approx(0.7747, abs=1e-4)
    assert build["shuffle_write_b"] == build["shuffle_read_b"] == 351
    # the Python SQL metrics of the MapInPandas node
    assert build["py_run_s"] == pytest.approx(3.487)
    assert build["py_boot_s"] == pytest.approx(2.93)
    assert (build["py_sent_b"], build["py_recv_b"]) == (16864, 32448)
    assert len(intervals["p0/0/queries.build"]) == 2
    assert len(intervals["p0/1/spark.exec"]) == 3


def test_union_of_job_intervals():
    assert union_seconds([]) == 0
    assert union_seconds([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    _, intervals = read_event_log(os.path.join(HERE, "data", "eventlog.json"))
    # the first two of the three jobs overlap in time
    assert union_seconds(intervals["p0/1/spark.exec"]) == pytest.approx(0.435 + 0.078, abs=1e-3)


def test_plan_counts():
    with open(os.path.join(HERE, "data", "plan.txt")) as f:
        counts = plan_counts(f.read())
    assert counts == {"exchanges": 1, "broadcasts": 1, "scans": 0, "python_nodes": 1}
    scan = "+- *(1) FileScan parquet [a#1] Batched: true\n:  +- InMemoryTableScan [b#2]\n"
    assert plan_counts(scan)["scans"] == 2


def test_span_self_time():
    parent = Span("queries.build", "g/0", None, start=0.0, end=5.0)
    parent.child_s = 1.5
    assert parent.self_s == pytest.approx(3.5)


def test_tree_cpu_seconds_counts_reaped_children():
    before = tree_cpu_seconds(os.getpid())
    pid = os.fork()
    if pid == 0:  # the child burns CPU and exits
        t_end = time.process_time() + 0.3
        while time.process_time() < t_end:
            pass
        os._exit(0)
    os.waitpid(pid, 0)
    assert tree_cpu_seconds(os.getpid()) - before >= 0.25
