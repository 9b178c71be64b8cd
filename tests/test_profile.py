"""tools/profile.py: each gate's jobs are attributed by time window —
side jobs inside the gate call, action jobs in the noop write — so an
eager gate's drain is not counted as plan construction, every row
splits its wall exactly into job time and gap, and a window the status
store may have evicted jobs from is refused.  The shared session keeps
Spark's default of 1000 retained jobs, so nothing here depends on job
ids."""

import pytest

from perfbench.tracing import Job
from tools import profile

LAZY, EAGER = "q01_pricing_summary", "streaming_dedup_ingest"


@pytest.fixture(scope="module")
def rows(spark, sf_dir):
    prof = profile.Profiler(spark)
    try:
        return {name: prof.gate(name, sf_dir) for name in (LAZY, EAGER)}
    finally:
        prof.close()


def test_lazy_gate_runs_its_jobs_in_the_action(rows):
    r = rows[LAZY]
    assert r["side_jobs"] == 0 and r["side_job_s"] == 0
    assert r["action_jobs"] > 0 and r["action_job_s"] > 0
    assert "stream_ms" not in r


def test_eager_streaming_gate_drains_inside_the_call(rows):
    r = rows[EAGER]
    assert r["side_jobs"] > 0 and r["side_job_s"] > 0
    # the drain's job time is taken out of construction
    assert r["construct_s"] == pytest.approx(r["call_s"] - r["side_job_s"], abs=0.002)
    assert r["construct_s"] < r["call_s"]
    assert r["stream_batches"] > 0 and r["stream_ms"]["addBatch"] > 0


def test_every_row_splits_wall_into_job_time_and_gap(rows):
    for r in rows.values():
        assert abs(r["job_s"] + r["gap_s"] - r["wall_s"]) <= 0.01
        assert r["jobs"] == r["side_jobs"] + r["action_jobs"]
        assert r["wall_s"] == pytest.approx(r["call_s"] + r["action_s"], abs=0.002)


def test_window_older_than_the_retained_jobs_raises():
    jobs = [Job(7, 105.0, 106.0), Job(6, 102.0, 103.0)]
    with pytest.raises(profile.EvictedJobs):
        profile.gate_jobs(jobs, 100.0, 110.0)
    # a listing that reaches back past the window start is complete
    older = Job(5, 99.0, 99.5)
    assert profile.gate_jobs(jobs + [older], 100.0, 110.0) == jobs
