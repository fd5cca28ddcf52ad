"""Event-log parsing and span bookkeeping, on a small recorded log.

``data/eventlog-small.json`` was recorded from a ``local[2]`` session
with ``spark.eventLog.compress=false`` and three jobs: job group ``py``
(a ``mapInPandas`` over 400 rows in 2 partitions, written to noop),
job group ``agg`` (a 3-partition group-by count) and one job with no
group. It keeps the job-start and task-end events, trimmed to the
fields the parser reads.
"""

import os

from spans import Tracer, merge, parse_event_log

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                   "eventlog-small.json")


def test_groups_jobs_and_tasks():
    g = parse_event_log(LOG)
    assert set(g) == {"py", "agg", ""}
    assert (g["py"].jobs, g["py"].tasks) == (1, 2)
    assert (g["agg"].jobs, g["agg"].tasks) == (2, 4)
    assert (g[""].jobs, g[""].tasks) == (2, 3)


def test_python_worker_counters_land_in_their_group():
    g = parse_event_log(LOG)
    py = g["py"].sql
    assert py["data sent to Python workers"] == 3680
    assert py["data returned from Python workers"] == 6848
    assert py["time to run Python workers"] == 4116
    assert "time to run Python workers" not in g["agg"].sql


def test_task_counters_and_skew():
    g = parse_event_log(LOG)
    assert g["py"].run_ms == 4989
    assert g["agg"].shuffle_write_bytes == 846
    assert g["py"].shuffle_write_bytes == 0
    assert 1.0 <= g["agg"].task_skew() < 1.01


def test_merge_sums_groups():
    g = parse_event_log(LOG)
    m = merge(g, ["py", "agg", "missing"])
    assert (m.jobs, m.tasks) == (3, 6)
    assert m.run_ms == g["py"].run_ms + g["agg"].run_ms
    assert m.sql["duration"] == g["py"].sql["duration"] + g["agg"].sql["duration"]


class FakeContext:
    def __init__(self):
        self.group = None
        self.seen = []

    def setJobGroup(self, group, description):
        self.group = group
        self.seen.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value


def test_nested_spans_restore_the_outer_job_group():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("pass"):
        with tr.span("inner"):
            assert sc.group == "inner"
        assert sc.group == "pass"
    assert sc.group is None
    assert [n for n, _ in tr.spans] == ["inner", "pass"]
    assert tr.median("pass") >= tr.median("inner") >= 0
    assert tr.median("absent") == 0.0
    untagged = Tracer()  # timing only, no Spark context needed
    with untagged.span("a"):
        pass
    assert len(untagged.times("a")) == 1
