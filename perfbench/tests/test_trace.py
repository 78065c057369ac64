"""The traced run's Spark counters: read without running a Spark job, and
repeatable for a repeated op."""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.harness import jvm_in_use  # noqa: E402
from perfbench.trace import COUNTERS, Tracer  # noqa: E402


@pytest.fixture(scope="module")
def sc():
    from libspatialindex_spark.session import get_spark

    spark = get_spark(
        "perfbench-tests", cores=2, shuffle_partitions=2,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    yield spark.sparkContext


def _op(sc):
    from pyspark.sql import SparkSession

    spark = SparkSession(sc)
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def test_reader_runs_no_spark_job(sc):
    tr = Tracer(sc, enabled=True)
    with tr.span("op"):
        _op(sc)
    tr._reader.drain()
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    group = set(tracker.getJobIdsForGroup(tr.spans[0].group))
    tr.collect_counters()
    tr._reader.drain()
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert set(tracker.getJobIdsForGroup(tr.spans[0].group)) == group
    c = tr.spans[0].counters
    assert set(c) == set(COUNTERS)
    assert c["jobs"] == len(group) >= 1
    assert c["tasks"] >= 1 and c["task_busy_s"] >= 0


def test_counts_repeat_for_the_same_op(sc):
    tr = Tracer(sc, enabled=True)
    for _ in range(2):
        with tr.span("op"):
            _op(sc)
    tr.collect_counters()
    a, b = (s.counters for s in tr.spans)
    assert (a["jobs"], a["tasks"]) == (b["jobs"], b["tasks"])


def test_nested_spans_own_their_jobs(sc):
    tr = Tracer(sc, enabled=True)
    with tr.span("op", op=0) as root:
        with tr.span("child"):
            _op(sc)
    tr.collect_counters()
    child = tr.spans[1]
    assert child.op == 0 and child.parent == root.id
    assert root.counters["jobs"] == 0 and child.counters["jobs"] >= 1
    assert tr.subtree_counters(root)["jobs"] == child.counters["jobs"]


def test_jvm_in_use_reads_live_heap_and_non_heap(sc):
    heap, nonheap = jvm_in_use(sc)
    assert heap > 0 and nonheap > 0
