"""Live self-test of the counter adapter and the traced run.  Starts
Spark (one in-process session and five traced benchmark runs, about
five minutes on four cores):

    python3 -m pytest perfbench/test_live.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: counts that depend only on the plan and the seeded inputs
EXACT = ("exec.jobs", "exec.stages", "exec.tasks", "exec.input_bytes",
         "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
         "operators.build_jobs", "py.nodes", "txnlog.jobs_per_commit",
         "txnlog.files_live", "txnlog.dv_rows", "txnlog.log_versions")


def traced(workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "10", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0, p.stderr[-3000:]
    return {k: v["value"] for k, v in out["metrics"].items()}


@pytest.fixture(scope="module")
def clinical():
    return traced("clinical_olap", 3)


@pytest.fixture(scope="module")
def corpus():
    return traced("corpus_curation", 3)


def test_no_counter_reads_null(clinical, corpus):
    for run in (clinical, corpus):
        assert all(v is not None for v in run.values()), run


def test_python_layer_is_bypassed_on_clinical(clinical, corpus):
    py = [k for k in clinical if k.startswith("py.")]
    assert py and all(clinical[k] == 0 for k in py)
    assert corpus["py.nodes"] > 0
    assert corpus["py.init_ms"] > 0 and corpus["py.run_ms"] > 0
    assert corpus["py.bytes_sent"] > 0 and corpus["py.bytes_received"] > 0


def test_txn_counts_repeat_for_a_seed():
    a, b = traced("txn_churn", 5), traced("txn_churn", 5)
    assert a["txnlog.jobs_per_commit"] > 0
    for k in EXACT:
        assert a[k] is not None and a[k] == b[k], (k, a[k], b[k])
    assert a["txnlog.conflicts"] == 0


def test_clinical_counts_repeat_for_a_seed(clinical):
    again = traced("clinical_olap", 3)
    for k in EXACT:
        assert clinical[k] == again[k], (k, clinical[k], again[k])


def test_run_time_is_executor_work_not_wall():
    """jn_03 is latency-bound: its summed executor run time is far from
    its wall time (the executor-summary task time tracked wall)."""
    sys.path.insert(0, ROOT)
    from counters import StatusProbe
    from docker_aktin_dwh_spark.registry import build_registry
    from docker_aktin_dwh_spark.session import build_session
    from run import SF_DIR as sf
    spark = build_session(app_name="perfbench-selftest")
    try:
        fn = build_registry()["jn_03"].fn
        fn(spark, sf).count()                      # warm
        probe = StatusProbe(spark)
        runs = []
        for _ in range(2):
            probe.delta()
            t0 = time.perf_counter()
            fn(spark, sf).count()
            wall_ms = (time.perf_counter() - t0) * 1e3
            runs.append((wall_ms, probe.delta().values))
    finally:
        spark.stop()
    for wall_ms, c in runs:
        assert c["exec.run_ms"] is not None
        assert abs(c["exec.run_ms"] - wall_ms) > 0.2 * wall_ms, (wall_ms, c)
    (_, a), (_, b) = runs
    for k in ("exec.jobs", "exec.tasks", "exec.input_bytes",
              "exec.shuffle_read_bytes", "exec.shuffle_write_bytes"):
        assert a[k] == b[k], (k, a[k], b[k])
