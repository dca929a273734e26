"""The event-log fold and span self times, on a hand-written fixture log.

    python3 -m pytest benchmark/tests -q
"""

import os

import pytest

import eventlog
from tracing import Span, self_times

FIXTURE = os.path.join(os.path.dirname(__file__), "eventlog_fixture.jsonl")


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold_file(FIXTURE)


def test_jobs_are_keyed_by_group_batch_or_other(folded):
    assert set(folded) == {"group:span:1", "batch:7", "other"}
    assert [folded[k]["jobs"] for k in ("group:span:1", "batch:7", "other")] == [1, 1, 1]


def test_span_group_counters(folded):
    c = folded["group:span:1"]
    assert c["stages"] == 2 and c["tasks"] == 3
    assert c["task_wait_s"] == pytest.approx(0.040)
    assert c["cpu_s"] == pytest.approx(3.0)
    assert c["gc_s"] == pytest.approx(0.1)
    assert c["shuffle_write_bytes"] == 800
    assert c["shuffle_read_bytes"] == 800
    assert c["spill_bytes"] == 15
    assert c["bytes_written"] == 1234


def test_skipped_stage_is_not_charged_twice(folded):
    # job 1 lists stage 1 again, but only stage 2 runs for it
    c = folded["batch:7"]
    assert c["stages"] == 1 and c["tasks"] == 1
    assert c["task_wait_s"] == pytest.approx(0.5)
    assert c["cpu_s"] == pytest.approx(0.5)


def test_batch_id_wins_over_the_stream_job_group():
    assert eventlog.job_key({"streaming.sql.batchId": "3", "spark.jobGroup.id": "g"}) == "batch:3"
    assert eventlog.job_key({"spark.jobGroup.id": "g"}) == "group:g"
    assert eventlog.job_key({}) == "other"


def test_add_sums_counters(folded):
    total = {}
    for c in folded.values():
        eventlog.add(total, c)
    assert total["jobs"] == 3 and total["tasks"] == 5


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "bench.pass", None, 0, 0.0, 10.0),
        Span(2, "io.load", 1, 0, 1.0, 4.0),
        Span(3, "io.write", 2, 0, 2.0, 3.0),
        Span(4, "ml.tuner", 1, 0, 3.0, 6.0),  # overlaps io.load by 1 s
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
