"""tools/profile_query.py attributes jobs by job group, not by time."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from profile_query import measured_jobs  # noqa: E402


def _job(jid, t0_ms, t1_ms, stage, props):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0_ms,
         "Stage IDs": [stage], "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1_ms},
    ]


def test_warm_up_job_is_not_listed():
    # The measured run of q opens at t=100 s.  The warm-up's last job was
    # submitted 2.8 s earlier, without a group; a time window with
    # seconds of slack would list it as the measured run's first job.
    group = {"spark.jobGroup.id": "q", "spark.job.description": "q"}
    events = [
        *_job(0, 97_200, 99_900, 0, {"callSite.short": "save at warmup"}),
        *_job(1, 100_050, 100_400, 1, {**group, "spark.job.description": "materialize:q.x"}),
        *_job(2, 100_500, 100_900, 2, {**group, "callSite.short": "save at q"}),
        *_job(3, 100_600, 100_700, 3, {"spark.jobGroup.id": "other"}),
    ]
    jobs = measured_jobs(events, "q")
    assert [j["job"] for j in jobs] == [1, 2]
    assert [j["label"] for j in jobs] == ["materialize:q.x", "save at q"]
    assert jobs[0]["task_s"] == 0.1
