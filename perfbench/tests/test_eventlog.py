from pathlib import Path

import pytest

import eventlog
from eventlog import Span

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_tiny.jsonl"
SPANS = [
    Span("q_a", "perfbench-1-q_a", 999.9, 1001.0),
    Span("q_b", "perfbench-2-q_b", 1002.0, 1003.0),
]


def _jobs():
    with open(FIXTURE) as f:
        return eventlog.read_jobs(f)


def test_read_jobs_groups_and_times():
    jobs = _jobs()
    assert [j.id for j in jobs] == [0, 1, 2, 3]
    assert jobs[0].group == "perfbench-1-q_a"
    assert jobs[3].group is None
    assert jobs[0].submit == pytest.approx(1000.0)
    assert jobs[0].end == pytest.approx(1000.5)


def test_reused_stage_counts_once_for_the_first_job():
    jobs = _jobs()
    # stage 0 is listed by jobs 0 and 1; its two tasks ran in job 0
    assert jobs[0].metrics["spark.tasks"] == 2
    assert jobs[0].metrics["spark.stages"] == 1
    assert jobs[1].metrics["spark.tasks"] == 1
    assert jobs[1].metrics["spark.stages"] == 1


def test_task_metric_units():
    m = _jobs()[0].metrics
    assert m["exec.run_s"] == pytest.approx(0.3)
    assert m["exec.cpu_s"] == pytest.approx(0.2)
    assert m["exec.gc_s"] == pytest.approx(0.01)
    assert m["shuffle.write_bytes"] == 500
    assert m["scan.input_bytes"] == 8192
    m1 = _jobs()[1].metrics
    assert m1["shuffle.read_bytes"] == 500
    assert m1["shuffle.fetch_wait_s"] == pytest.approx(0.007)
    assert m1["spill.bytes"] == 3072


def test_attribution_by_group_then_window():
    per_key, unattributed = eventlog.attribute(_jobs(), SPANS)
    assert per_key["q_a"]["spark.jobs"] == 2  # main thread + pool thread
    assert per_key["q_b"]["spark.jobs"] == 1  # streaming run id, by window
    assert unattributed == 1
    total = sum(c["spark.jobs"] for c in per_key.values()) + unattributed
    assert total == len(_jobs())


def test_driver_residual_is_wall_minus_job_union():
    per_key, _ = eventlog.attribute(_jobs(), SPANS)
    # q_a: 1.1 s wall, jobs cover [1000.0, 1000.8]
    assert per_key["q_a"]["wall_s"] == pytest.approx(1.1)
    assert per_key["q_a"]["driver.residual_s"] == pytest.approx(0.3)
    assert per_key["q_b"]["driver.residual_s"] == pytest.approx(0.7)


def test_no_spans_leaves_every_job_unattributed():
    per_key, unattributed = eventlog.attribute(_jobs(), [])
    assert per_key == {}
    assert unattributed == 4
