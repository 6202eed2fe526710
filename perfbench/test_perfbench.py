"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q

The py4j test starts a small local Spark session (about 15 s).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import eltgen  # noqa: E402
import run  # noqa: E402
from tracing import covered_s, group_parts, jobs_by_group, summarize  # noqa: E402


def _job(jid, group, t0_ms, t1_ms, stages):
    start = {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0_ms,
             "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group} if group else {}}
    end = {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1_ms}
    return start, end


def _task(stage, run_ms, shuffle_write=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
                             "Shuffle Read Metrics": {"Local Bytes Read": 5,
                                                      "Remote Bytes Read": 0}}}


def test_jobs_attributed_by_group_not_time():
    # Phase timer of q1/build starts at t=100.000 s; its first job was
    # submitted 40 ms earlier (py4j round trip before the timer), and a
    # q2/exec job overlaps the q1 window.  A time-window attribution with
    # millisecond slack would drop the first job and claim the second.
    a0, a1 = _job(0, "light_queries/q1/build", 99_960, 100_200, [0])
    b0, b1 = _job(1, "light_queries/q1/exec", 100_250, 100_900, [1, 2])
    c0, c1 = _job(2, "light_queries/q2/exec", 100_100, 100_150, [3])
    d0, d1 = _job(3, None, 101_000, 101_100, [4])  # warm-up, no group
    events = [a0, c0, _task(3, 40), c1, _task(0, 200), a1, b0, _task(1, 300, 70),
              _task(2, 100, 30), b1, d0, d1]
    jobs = jobs_by_group(events)
    by = {j["job"]: j for j in jobs}
    q1_build = [j for j in jobs if group_parts(j["group"]) == ("light_queries", "q1", "build")]
    assert [j["job"] for j in q1_build] == [0]
    assert by[1]["task_s"] == pytest.approx(0.4)
    assert by[1]["shuffle_write_bytes"] == 100
    assert group_parts(by[3]["group"]) == ("", "", "")
    q1 = [j for j in jobs if group_parts(j["group"])[1] == "q1"]
    s = summarize(q1)
    assert s["jobs"] == 2
    assert s["job_s"] == pytest.approx(0.24 + 0.65)
    assert s["busy_cores"] == pytest.approx(0.6 / 0.89)
    assert covered_s(jobs) == pytest.approx(0.24 + 0.65 + 0.1)


def test_group_parts_keeps_slashes_in_op():
    assert group_parts("elt_history/a/b/write") == ("elt_history", "a/b", "write")


def test_tail_percentile_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 33)]
    v, p = common.tail(xs)
    assert p == 68 and sum(x > v for x in xs) >= 10
    assert common.tail(xs[:12]) == (12.0, 100)


def test_generator_is_seeded_and_counts_balance():
    a = eltgen.batches(7, 200, 3)
    b = eltgen.batches(7, 200, 3)
    assert [x.rows for x in a] == [x.rows for x in b]
    prev = None
    for cur in a:
        exp = eltgen.expected_scd2(prev, cur)
        for t, c in exp.items():
            open_before = len(prev.snapshots[t]) if prev else 0
            assert open_before - c["closed"] + c["inserted"] == len(cur.snapshots[t])
        prev = cur
    sat = a[1].snapshots["movie_info_sat"]
    urls = [k[2] for k in sat]
    assert len(urls) == len(set(urls))  # one row per source URL: unique sat keys


def test_tree_cpu_counts_child_work_not_waiting():
    burn = ("import sys, time\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.5: pass\n"
            "print('done', flush=True)\n"
            "sys.stdin.read()\n")
    c = common.CpuTimer()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        used = c.s()  # the child is alive: counted from /proc, not rusage
    finally:
        child.stdin.close()
        child.wait()
    assert 0.45 < used < 1.5
    c = common.CpuTimer()
    time.sleep(0.3)
    assert c.s() < 0.1


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    work = str(tmp_path_factory.mktemp("perfbench"))
    common.pin_host(work)
    sys.path.insert(0, common.ROOT)
    s = common.start_session(work, None)
    yield s, work
    common.stop_session(s)


def test_py4j_count_of_a_build_repeats_exactly(spark):
    import __spark_entry__ as entry
    import datagen
    from tracing import Py4jCounter

    session, work = spark
    data = os.path.join(work, "data")
    datagen.write(data, 1, 0.001)
    fn = entry.queries()["cuped_adjusted_lift_events"]
    counter = Py4jCounter(session)
    fn(session, data)  # first build also resolves and caches JVM classes
    counts = []
    for _ in range(2):
        with counter.counting() as calls:
            fn(session, data)
        counts.append(calls())
    assert counts[0] > 0 and counts[0] == counts[1]
