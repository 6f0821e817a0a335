"""Event-log parser and self-time arithmetic of the traced run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import eventlog  # noqa: E402
import layers  # noqa: E402
from eventlog import Job, Span, StageMetrics  # noqa: E402


def _job(jid, t0, t1, desc=None):
    return Job(jid, t0, t1, desc, [], [])


def test_union_subtract_and_intersection():
    assert eventlog.union([(3, 4), (0, 1), (0.5, 2), (5, 5)]) == [(0, 2), (3, 4)]
    assert eventlog.subtract((0, 10), [(1, 4), (3, 6), (12, 13)]) == [(0, 1), (6, 10)]
    assert eventlog.intersect_length([(0, 5), (6, 8)], [(4, 7)]) == pytest.approx(2.0)


def test_self_times_add_up_to_the_wall():
    spans = [
        Span(1, 0, "op", "op", 0.0, 10.0),
        Span(2, 1, "a", "table", 1.0, 4.0),
        Span(3, 2, "a.inner", "scoring", 2.0, 3.0),
        Span(4, 1, "b", "rerank", 5.0, 6.0),
    ]
    kids = eventlog.children_of(spans)
    selfs = {s.name: eventlog.self_time(s, kids) for s in spans}
    assert selfs == {"op": 6.0, "a": 2.0, "a.inner": 1.0, "b": 1.0}
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_jobs_go_to_the_innermost_span_open_at_submission():
    spans = [
        Span(1, 0, "op", "op", 0.0, 10.0),
        Span(2, 1, "a", "table", 1.0, 4.0),
        Span(3, 2, "a.inner", "scoring", 2.0, 3.0),
    ]
    jobs = [_job(0, 2.5, 2.9), _job(1, 3.5, 3.6), _job(2, 6.0, 7.0), _job(3, 11.0, 12.0)]
    charged = eventlog.charge_jobs(jobs, spans)
    assert {k: [j.job_id for j in v] for k, v in charged.items()} == {3: [0], 2: [1], 1: [2], 0: [3]}


class _Op:
    def __init__(self, roots):
        self.roots = roots


def test_layers_jobs_and_residual_partition_the_wall():
    root = Span(1, 0, "q/build", "op", 0.0, 10.0)
    spans = [root, Span(2, 1, "x", "operators.graph", 1.0, 4.0)]
    # one job inside the operator call, one in the query's own code
    jobs = [_job(0, 2.0, 3.0), _job(1, 6.0, 8.0)]
    att = layers.Attribution(spans, jobs)
    op = _Op([root])
    layer_self = att.layer_self(op)
    covered_own = 2.0
    assert layer_self == {"operators.graph": pytest.approx(3.0)}
    assert att.residual(op) == pytest.approx(10.0 - 3.0 - covered_own)
    assert att.group_of(spans[1]) == "graph"
    assert len(att.op_jobs(op)) == 2


@pytest.fixture(scope="module")
def tiny_log(tmp_path_factory):
    from minivectordb_spark.session import get_spark
    from pyspark.sql import functions as F

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(app_name="eventlog-test", cores=2, shuffle_partitions=2, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.adaptive.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    sc = spark.sparkContext
    sc.setJobDescription("t/scan")
    spark.range(0, 100, 1, 2).collect()
    sc.setJobDescription("t/agg")
    spark.range(0, 100, 1, 2).groupBy((F.col("id") % 3).alias("g")).count().collect()
    sc.setJobDescription(None)
    spark.stop()
    (name,) = os.listdir(log_dir)
    return eventlog.parse(os.path.join(log_dir, name))


def test_parser_recovers_jobs_stages_and_tasks(tiny_log):
    by_desc = {}
    for job in tiny_log:
        by_desc.setdefault(job.description, []).append(job)
    (scan,) = by_desc["t/scan"]
    (agg,) = by_desc["t/agg"]
    assert (scan.stages_run, scan.metrics.tasks) == (1, 2)
    assert scan.metrics.shuffle_write_bytes == 0
    # partial aggregate, shuffle, final aggregate: two stages of two tasks
    assert (agg.stages_run, agg.metrics.tasks) == (2, 4)
    assert agg.metrics.shuffle_write_bytes > 0
    assert agg.metrics.shuffle_read_bytes == agg.metrics.shuffle_write_bytes
    for job in (scan, agg):
        assert job.end >= job.submit > 0
        assert job.metrics.run_ms >= 0 and job.metrics.cpu_ms > 0


def test_stage_metrics_add():
    a = StageMetrics(tasks=1, run_ms=2.0, shuffle_write_bytes=5)
    a.add(StageMetrics(tasks=2, run_ms=1.0, spill_bytes=3))
    assert (a.tasks, a.run_ms, a.shuffle_write_bytes, a.spill_bytes) == (3, 3.0, 5, 3)
