"""The event-log parser, on a small log recorded from a traced spatial_resume
session (trimmed to the events and fields the parser reads; operations 0,
cold, and 2, warm), and the timing summaries."""

import json
import os

import pytest

from colorbench.eventlog import operator_samples, read_events, stages
from colorbench.stats import summarize, tail_pct
from colorbench.trace import group_id, parse_group

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
#: the color stages (write_data("images") jobs) of each recorded operation
COLD_COLOR, WARM_COLOR = (0, 7), (26, 33)


def _raw_tasks(stage_ids):
    """TaskEnd events of the given stages, read without the parser."""
    with open(LOG) as f:
        events = [json.loads(line) for line in f]
    return [e for e in events
            if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids]


def _acc(task, name):
    return sum(int(a["Update"]) for a in task["Task Info"]["Accumulables"]
               if a["Name"] == name)


@pytest.fixture(scope="module")
def samples():
    return operator_samples(stages(read_events(LOG)), {0: "cold", 2: "warm"}, level=4)


def test_stages_carry_the_job_group_of_their_call():
    st = stages(read_events(LOG))
    assert parse_group(st[(0, 0)]["group"]) == (0, "run", "images", 0)
    assert parse_group(st[(33, 0)]["group"]) == (2, "resume", "images", 1)
    assert len(st[(26, 0)]["tasks"]) == 4


def test_color_layers_come_from_the_warm_operation(samples):
    warm = _raw_tasks(WARM_COLOR)
    assert samples["color.tasks_per_core"] == [1.0, 1.0]
    assert sorted(samples["color.python_run_s"]) == sorted(
        _acc(t, "time to run Python workers") / 1e3 for t in warm
    )
    assert sorted(samples["color.gc_s"]) == sorted(
        t["Task Metrics"]["JVM GC Time"] / 1e3 for t in warm
    )
    sent = sum(_acc(t, "data sent to Python workers") for t in warm) / 2**20
    back = sum(_acc(t, "data returned from Python workers") for t in warm) / 2**20
    assert samples["color.to_python_mib"] == [pytest.approx(sent)]
    assert samples["color.from_python_mib"] == [pytest.approx(back)]
    # stage end minus the median of its four task finish times
    assert sorted(samples["color.tail_s"]) == [
        pytest.approx((693 - (636 + 677) / 2) / 1e3),
        pytest.approx((595 - (458 + 583) / 2) / 1e3),
    ]


def test_python_start_up_comes_from_the_cold_operation(samples):
    cold = _raw_tasks(COLD_COLOR)
    assert sorted(samples["color.python_init_s"]) == sorted(
        (_acc(t, "time to start Python workers")
         + _acc(t, "time to initialize Python workers")) / 1e3
        for t in cold
    )


def test_knn_shuffle_and_retries(samples):
    assert len(samples["knn.shuffle_mib"]) == 1
    assert samples["knn.shuffle_mib"][0] > 0
    assert samples["color.task_retries"] == [0]


def test_retried_tasks_count_and_untagged_jobs_are_not_attributed():
    gid = group_id(5, "run", "images", 0)
    task = {"Attempt": 0, "Failed": False, "Killed": False, "Finish Time": 10,
            "Accumulables": [{"Name": "time to run Python workers", "Update": "7"}]}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1], "Properties": {"spark.jobGroup.id": gid}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0, "Task Info": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,
         "Task Info": dict(task, Attempt=1)},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Stage Attempt ID": 0,
         "Task Info": dict(task, Failed=True)},
    ]
    out = operator_samples(stages(events), {5: "warm"}, level=2)
    assert out["color.task_retries"] == [2]
    assert out["color.python_run_s"] == [0.007, 0.007]
    assert out["color.tasks_per_core"] == [1.0]


@pytest.mark.parametrize("n,pct", [(19, 0), (20, 50), (99, 50), (100, 90), (1000, 99), (10000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond_it(n, pct):
    assert tail_pct(n) == pct


def test_summarize():
    s = summarize([float(v) for v in range(1, 101)])
    assert s == {"": 50.5, ".tail": 90.0, ".tail_pct": 90.0, ".n": 100}
    assert summarize([3.0])[".tail"] == 3.0
    assert summarize([])[".n"] == 0
