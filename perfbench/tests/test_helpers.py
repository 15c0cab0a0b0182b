"""Unit tests of the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402
from perfbench.probes import _child_kind, stage_totals  # noqa: E402


@pytest.mark.parametrize(
    "n, pct",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert round(n * (100 - pct) / 100, 6) >= stats.TAIL_MIN_BEYOND


def test_tail_falls_back_to_median_for_small_samples():
    assert stats.tail([5.0, 1.0, 3.0]) == (3.0, 50.0, 3)
    vals = [float(x) for x in range(1, 101)]
    value, pct, n = stats.tail(vals)
    assert (pct, n) == (90.0, 100)
    assert value == pytest.approx(np.percentile(vals, 90))


def test_percentile_matches_numpy():
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    for p in (0, 25, 50, 90, 100):
        assert stats.percentile(vals, p) == pytest.approx(np.percentile(vals, p))


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    # quantiles(n=4) of 1..9 (exclusive method) are 2.5, 5, 7.5
    assert stats.spread([float(x) for x in range(1, 10)]) == pytest.approx(1.0)


def test_jobs_in_window_attributes_by_submission_time():
    jobs = [
        {"jobId": 3, "submissionTime": 150},
        {"jobId": 1, "submissionTime": 90},   # before the op
        {"jobId": 2, "submissionTime": 100},  # at the op's start
        {"jobId": 4, "submissionTime": 201},  # after the op
        {"jobId": 5, "submissionTime": None},  # never submitted
    ]
    got = stats.jobs_in_window(jobs, 100, 200)
    assert [j["jobId"] for j in got] == [2, 3]


def test_union_length_merges_overlaps_and_clips():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 10), (5, 15), (20, 30)]) == 25
    assert stats.union_length([(0, 10), (2, 3)]) == 10  # nested
    assert stats.union_length([(0, 10), (10, 12)]) == 12  # touching
    assert stats.union_length([(-5, 5), (8, 20)], lo=0, hi=10) == 7
    assert stats.union_length([(11, 20)], lo=0, hi=10) == 0


def test_self_time_subtracts_child_coverage_once():
    assert stats.self_time(0, 100, []) == 100
    # overlapping children cover 10..60 once; the part outside is ignored
    assert stats.self_time(0, 100, [(10, 50), (30, 60), (90, 130)]) == 40


def test_stage_totals_skips_skipped_stages_and_duplicates():
    st = {"stageId": 1, "attemptId": 0, "status": "COMPLETE", "numTasks": 4,
          "executorRunTime": 100, "executorCpuTime": 50_000_000,
          "inputRecords": 1000, "memoryBytesSpilled": 7, "diskBytesSpilled": 3,
          "peakExecutionMemory": 64}
    skipped = {"stageId": 2, "attemptId": 0, "status": "SKIPPED", "numTasks": 9}
    got = stage_totals([st, dict(st), skipped])
    assert got["spark.stages"] == 1
    assert got["spark.tasks"] == 4
    assert got["spark.executor_cpu_ms"] == 50.0
    assert got["spark.spill_bytes"] == 10
    assert got["spark.peak_exec_mem_bytes"] == 64


def test_process_kinds():
    assert _child_kind("driver", "java") == "jvm"
    assert _child_kind("jvm", "python3") == "pyworker"
    assert _child_kind("pyworker", "python3") == "pyworker"
    assert _child_kind("driver", "bash") == "driver"


def test_documents_are_seeded_and_hold_duplicates():
    from perfbench.inputs import DOCS, documents

    a, b, c = documents(3), documents(3), documents(4)
    assert a.equals(b)
    assert not a.equals(c)
    texts = a.column("text").to_pylist()
    assert a.num_rows == DOCS
    assert len(set(texts)) < DOCS  # planted exact copies
    assert a.column("n_chars").to_pylist() == [len(t) for t in texts]


def test_wait_gone_returns_once_processes_exit():
    import subprocess
    import time

    from perfbench.probes import wait_gone

    procs = [subprocess.Popen(["sleep", "0.3"]) for _ in range(2)]
    t0 = time.monotonic()
    wait_gone([p.pid for p in procs], timeout_s=10)
    assert time.monotonic() - t0 < 5
    for p in procs:
        assert p.wait(timeout=5) == 0
