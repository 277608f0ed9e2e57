"""Pins the event-log reader against a recorded log: the ingest and one
/search of a traced search_read run (Spark 4.1, uncompressed), trimmed to
the fields the reader uses."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = eventlog.read(os.path.join(HERE, "fixtures"))


def test_jobs_and_phases():
    assert sorted(LOG.jobs) == [6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 29]
    assert LOG.phase_seconds("ingest.extract") == pytest.approx(3.419)
    assert LOG.phase_seconds("ingest.write") == pytest.approx(1.496)
    assert LOG.phase_seconds("ingest.readback") == pytest.approx(0.525)
    assert LOG.phase_seconds("no such phase") == 0.0
    assert LOG.jobs[29].group == "bench-search-0"


def test_runtime_metrics_whole_log():
    m = LOG.runtime_metrics(20.0)
    assert m["spark.jobs"] == 11
    assert m["spark.stages"] == 14
    assert m["spark.tasks"] == 87
    assert m["spark.executor_run_s"] == pytest.approx(16.575)
    assert m["spark.executor_cpu_s"] == pytest.approx(2.949589123)
    assert m["spark.python_gap_s"] == pytest.approx(16.575 - 2.949589123)
    assert m["spark.gc_s"] == pytest.approx(0.231)
    assert m["spark.input_bytes"] == 13205601
    assert m["spark.shuffle_write_bytes"] == 124226
    assert m["spark.spill_bytes"] == 0
    # jobs do not overlap here: 6.606 s of the 20 s window is covered
    assert m["spark.driver_s"] == pytest.approx(20.0 - 6.606)


def test_window_selects_jobs_by_submission_time():
    w = LOG.window(1792226507000, 1792226509000)
    assert list(w.jobs) == [29]
    assert w.runtime_metrics(2.0)["spark.driver_s"] == pytest.approx(2.0 - 0.410)
    assert all(t.stage_id in w.jobs[29].stage_ids for t in w.tasks)
