"""Pins the event-log parser and the stage-to-layer attribution on a canned
log: three stages of one operation (a melt, a sort+window, a pandas group
map) plus one job of another group that must be ignored.

Run: python3 -m pytest exbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    with open(LOG) as fh:
        return layers.EventLog.parse(fh)


def test_parser_reads_jobs_stages_and_task_metrics(log):
    assert log.jobs[0]["group"] == "op0" and log.jobs[0]["stages"] == [0, 1, 2]
    assert log.jobs[0]["sql"] == "0" and log.sql[0] == {"start": 1000, "end": 2050}
    assert log.live([log.jobs[0]]) == ([(1.0, 2.0)], [(1.0, 2.05)])
    assert log.jobs[1]["group"] == "op0-check"
    assert log.stages[0]["metrics"]["run_ms"] == 500
    assert log.stages[0]["metrics"]["shuffle_write"] == 1000
    assert log.stages[1]["metrics"]["shuffle_read"] == 1000
    assert log.stages[1]["metrics"]["spill"] == 60
    assert log.stages[1]["metrics"]["cpu_ns"] == 700_000_000


def test_stage_to_layer(log):
    assert [log.stages[i]["layer"] for i in range(4)] == [
        "slicing", "rewards", "fp_filter", "sources",
    ]
    assert layers.stage_layer({"HashAggregate", "Exchange"}) == "spark.other"
    assert layers.stage_layer({"FlatMapGroupsInPandasWithState", "Sort"}) == "stateful"


def test_stage_sums_per_layer(log):
    stages = [log.stages[s] for s in log.jobs[0]["stages"]]
    sums = layers.stage_sums(stages)
    assert sums["spark.stages"] == 3 and sums["spark.tasks"] == 4
    assert sums["spark.executor_run_s"] == pytest.approx(1.6)
    assert sums["spark.executor_cpu_s"] == pytest.approx(1.2)
    assert sums["spark.gc_s"] == pytest.approx(0.025)
    assert sums["rewards.exec_s"] == pytest.approx(0.8)
    assert sums["rewards.shuffle_bytes"] == 1000
    assert sums["rewards.spill_bytes"] == 60
    assert sums["slicing.exec_s"] == pytest.approx(0.5)
    assert sums["slicing.melt_rows"] == 100  # the stack() Generate only
    assert sums["fp_filter.exec_s"] == pytest.approx(0.3)
    assert sums["fp_filter.python_s"] == pytest.approx(0.25)
    assert sums["spark.python_s"] == pytest.approx(0.25)


def test_timeline_shares_overlap_and_names_gaps(log):
    """Execution only (no spans): stages of job 0 in [1.0, 2.0] s, its
    query live until 2.05 s, the window runs to 2.1 s."""
    stages = [log.stages[s] for s in log.jobs[0]["stages"]]
    split = layers.timeline(1.0, 2.1, stages, [], [], log.live([log.jobs[0]]))
    assert split["slicing"] == pytest.approx(0.4)
    assert split["rewards"] == pytest.approx(0.45)  # 0.4 alone + half of 0.1
    assert split["fp_filter"] == pytest.approx(0.15)  # half of 0.1 + 0.1 alone
    assert split["spark.driver"] == pytest.approx(0.05)
    assert split["unobserved"] == pytest.approx(0.05)
    assert sum(split.values()) == pytest.approx(1.1)
    assert layers.attributed_share(split, 1.1) == pytest.approx(1.05 / 1.1)


def _traced_op():
    """An operation built in [0.0, 1.0] s (epoch) and executed until 2.1 s:
    two top-level spans (load 0-0.05, explain 0.05-0.95) with two nested
    ones (slicing 0.10-0.30, rewards 0.30-0.70), and py4j round trips."""
    tr = layers.Tracer()
    tr.spans = [
        ("slicing", "slice", 0.10, 0.30, 0.0),
        ("rewards", "rewards", 0.30, 0.70, 0.0),
        ("pipeline", "explain", 0.05, 0.95, 0.60),
        ("sources", "load", 0.0, 0.05, 0.0),
    ]
    # one call inside slicing, one in explain's own time, one in execution
    tr.py4j = [(0.1, 0.01), (0.72, 0.2), (1.5, 0.5)]
    return tr, {"group": "op0", "start": 0.0, "built": 1.0, "end": 2.1, "traced": True}


def test_layers_reconcile_with_wall_time(log):
    tr, op = _traced_op()
    row = tr.batch_op(op, log, cores=4)
    assert row["op.wall_s"] == pytest.approx(2.1)
    assert row["pipeline.build_s"] == pytest.approx(0.30)
    assert row["slicing.build_s"] == pytest.approx(0.20)
    assert row["rewards.build_s"] == pytest.approx(0.40)
    assert row["sources.build_s"] == pytest.approx(0.05)
    assert row["py4j.calls"] == 3 and row["py4j.s"] == pytest.approx(0.21)
    assert row["spark.jobs"] == 1 and row["pipeline.build_jobs"] == 0
    assert row["spark.core_busy_ratio"] == pytest.approx(1.6 / (2.1 * 4))
    # every instant in exactly one bucket
    buckets = {k: v for k, v in row.items() if k.endswith(".wall_s") and k != "op.wall_s"}
    assert sum(buckets.values()) == pytest.approx(2.1)
    assert row["slicing.wall_s"] == pytest.approx(0.2 + 0.4)
    assert row["rewards.wall_s"] == pytest.approx(0.4 + 0.45)
    assert row["fp_filter.wall_s"] == pytest.approx(0.15)
    assert row["py4j.wall_s"] == pytest.approx(0.2)
    # explain's own Python (0.05 + 0.02 + 0.03) and load's (0.05)
    assert row["top_level.python.wall_s"] == pytest.approx(0.15)
    assert row["spark.driver.wall_s"] == pytest.approx(0.05)
    # 0.95-1.0 s between build and execution, 2.05-2.1 s after the query
    assert row["unobserved.wall_s"] == pytest.approx(0.1)
    # the named layers leave 0.25 s of 2.1 s unexplained: flagged
    assert row["trace.attributed_ratio"] == pytest.approx(1.85 / 2.1)
    assert not layers.attribution_ok(row["trace.attributed_ratio"])
    assert layers.attribution_ok(0.95) and not layers.attribution_ok(1.15)


def test_stream_batch_names_handler_and_engine_time(log):
    """A 1.0 s trigger at epoch 10 s: the handler (10.1-10.9 s) calls the
    serving view (10.2-10.6 s) and makes one round trip (10.6-10.8 s);
    Spark reports 0.15 s of engine phases outside addBatch."""
    tr = layers.Tracer()
    tr.spans = [
        ("online_scorer", "apply_batch", 10.2, 10.6, 0.0),
        ("online_scorer", "foreachBatch handler", 10.1, 10.9, 0.4),
    ]
    tr.py4j = [(10.6, 0.2)]
    p = {
        "batchId": 4, "timestamp": "1970-01-01T00:00:10.000Z", "numInputRows": 400,
        "durationMs": {"triggerExecution": 1000, "addBatch": 800, "queryPlanning": 100,
                       "walCommit": 50},
        "sources": [{"endOffset": 10}],
        "stateOperators": [{"numRowsTotal": 20}],
    }
    run = type("Run", (), {"stream_rate": 100, "creation_ms": 0, "cores": 4})()
    row = tr.stream_batch(p, log, run)
    assert row["online_scorer.handler_s"] == pytest.approx(0.8)
    assert row["online_scorer.wall_s"] == pytest.approx(0.4)
    assert row["py4j.wall_s"] == pytest.approx(0.2)
    assert row["top_level.python.wall_s"] == pytest.approx(0.2)
    assert row["stream.engine.wall_s"] == pytest.approx(0.15)
    assert row["unobserved.wall_s"] == pytest.approx(0.05)
    assert row["trace.attributed_ratio"] == pytest.approx(0.75)
