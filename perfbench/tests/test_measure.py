"""Percentile arithmetic, span self time, Spark attribution and the
output comparison."""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# ------------------------------------------------------------ percentiles

def test_nearest_rank_percentile():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 95) == 95
    assert stats.percentile(vals, 100) == 100
    assert stats.percentile([3.0], 99) == 3.0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(46) == 78
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(200) == 95
    for n in range(20, 400):
        p = stats.tail_percentile(n)
        assert n - math.ceil(p * n / 100) >= stats.TAIL_MIN_BEYOND
        assert p == 99 or n - math.ceil((p + 1) * n / 100) < \
            stats.TAIL_MIN_BEYOND


def test_quartile_spread_matches_statistics():
    vals = [10.0, 11.0, 9.5, 10.2, 12.0, 10.1, 9.9, 10.4, 10.0, 11.1]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == (q3 - q1) / q2


# ------------------------------------------------------------------ spans

def _span(sid, parent, t0, t1, name="x"):
    s = spans.Span(sid, parent, name, t0, t0)
    s.t1, s.wall1 = t1, t1
    return s


def test_self_time_subtracts_children_once():
    root = _span(1, None, 0.0, 1.0)
    kids = [_span(2, 1, 0.1, 0.3), _span(3, 1, 0.2, 0.4),   # overlap
            _span(4, 1, 0.9, 1.5)]                          # past the end
    assert math.isclose(spans.self_ms(root, kids), 600.0)


def test_self_times_add_up_to_the_root_wall():
    tracer = spans.Tracer()
    with tracer.span("op") as root:
        with tracer.span("a"):
            with tracer.span("b"):
                pass
        with tracer.span("a"):
            pass
        with tracer.span("c"):
            pass
    layers = spans.layer_self_ms(tracer, root)
    assert set(layers) == {"op", "a", "b", "c"}
    assert math.isclose(sum(layers.values()), root.ms, rel_tol=1e-9)
    assert [s.parent for s in tracer.spans if s.name == "b"] == \
        [s.id for s in tracer.spans if s.name == "a"][:1]


def test_wrap_records_a_span_and_returns_the_result():
    tracer = spans.Tracer()
    f = tracer.wrap(lambda x: x + 1, "layer.call")
    assert f(1) == 2
    assert [s.name for s in tracer.spans] == ["layer.call"]


# ------------------------------------------------------ Spark attribution

def _task(stage, launch, finish, run, cpu_ns=0, shuffle_w=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Getting Result Time": 0},
            "Task Metrics": {"Executor Run Time": run,
                             "Executor CPU Time": cpu_ns,
                             "Executor Deserialize Time": 1,
                             "Result Serialization Time": 0,
                             "Shuffle Read Metrics": {},
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": shuffle_w},
                             "Memory Bytes Spilled": spill,
                             "Disk Bytes Spilled": 0}}


def test_event_log_attribution_by_submission_window(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1_000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 5_000, "Stage IDs": [2]},
        _task(0, 1_000, 1_010, 8, cpu_ns=4_000_000, shuffle_w=2**20),
        _task(1, 1_010, 1_050, 30),
        _task(1, 1_010, 1_020, 10),
        _task(1, 1_010, 1_020, 10),
        _task(2, 5_000, 5_100, 90),
    ]
    with open(tmp_path / "app", "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = spans.read_event_log(str(tmp_path))
    m = spans.spark_metrics(jobs, stages, 0.9, 2.0)
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2
    assert m["spark.tasks"] == 4
    assert m["spark.task_ms"] == 58
    assert m["spark.task_cpu_ms"] == 4.0
    assert m["spark.shuffle_mb"] == 1.0
    assert m["spark.skew"] == 4.0          # stage 1: max 40 / median 10
    # per task: duration - run - deserialize, floored at 0
    assert m["spark.sched_delay_ms"] == (1 + 9 + 0 + 0) / 4
    assert spans.spark_metrics(jobs, stages, 4.0, 6.0)["spark.jobs"] == 1


# ----------------------------------------------------------------- checks

def test_rows_equal_normalizes_values_and_order():
    a_cols, a_rows = ["Day", "rev"], [["1996-01-01", 1.0], [None, 2.5]]
    b_cols = ["REV", "day"]
    b_rows = [(2.5, float("nan")), (1, dt.datetime(1996, 1, 1))]
    assert check.rows_equal(a_cols, a_rows, b_cols, b_rows) == ""
    assert check.rows_equal(a_cols, a_rows, b_cols, b_rows[:1]) != ""
    assert check.rows_equal(a_cols, [["1996-01-01", 1.0000001],
                                     [None, 2.5]], b_cols, b_rows) != ""
    assert check.rows_equal(["x"], [[1]], ["y"], [[1]]) != ""


def test_digest_is_stable_and_sensitive():
    env = {"header": {"fields": []}, "rows": [[1, "a"]]}
    assert check.digest(env) == check.digest(json.loads(json.dumps(env)))
    assert check.digest(env) != check.digest({**env, "rows": [[2, "a"]]})
