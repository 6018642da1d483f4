"""The event-log digest on a tiny hand-written log.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import digest  # noqa: E402
import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixture_eventlog.jsonl")


def test_digest_folds_task_metrics_by_job_group():
    d = digest.digest_file(FIXTURE)
    assert set(d) == {"pb-0", "pb-1", ""}
    a = d["pb-0"]
    assert (a["jobs"], a["tasks"]) == (2, 3)
    assert a["run_ms"] == 60 and a["gc_ms"] == 7
    assert a["shuffle_read_bytes"] == 300 and a["shuffle_write_bytes"] == 50
    assert a["spill_bytes"] == 11 and a["bytes_written"] == 0
    assert a["python_ms"] == 25
    assert (a["python_bytes_sent"], a["python_bytes_returned"]) == (1000, 800)
    assert a["first_submit_ms"] == 1_000_100
    b = d["pb-1"]
    assert (b["jobs"], b["tasks"], b["bytes_written"]) == (1, 1, 4096)
    # a job without a group is filed under ""
    assert d[""]["jobs"] == 1 and d[""]["tasks"] == 1


def test_layer_report_charges_self_time_and_jobs():
    t = spans.Tracer()
    outer = spans.Span(0, "plans.pipeline", "build", None, 1000.0, 1004.0, children_s=1.0)
    inner = spans.Span(1, "storage.writer", "merge_upsert", 0, 1001.0, 1002.0)
    t.spans = [outer, inner]
    rep = spans.layer_report(t, digest.digest_file(FIXTURE), [(999.0, 1005.0)])
    assert rep["plans.pipeline"]["wall_s"] == 3.0
    assert rep["plans.pipeline"]["jobs"] == 2
    assert rep["storage.writer"]["wall_s"] == 1.0
    assert rep["storage.writer"]["bytes_written"] == 4096
    assert rep["bench"]["wall_s"] == 2.0  # window 6 s minus the 4 s top span
    # first job of pb-0 was submitted 0.1 s after the span opened
    assert abs(spans.first_job_delay_s(t, digest.digest_file(FIXTURE), "plans.pipeline",
                                       [(999.0, 1005.0)]) - 0.1) < 1e-9
