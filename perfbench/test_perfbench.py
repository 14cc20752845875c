"""Unit tests of the benchmark's own parts (no Spark session):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import counters  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

#: metric strings as SQLAppStatusStore renders them (captured from
#: MapInPandas and ArrowEvalPython nodes of sdd_01, mm_png and ann_topk)
CAPTURED = [
    ("total (min, med, max (stageId: taskId))\n4.0 s (1.9 s, 2.1 s, 2.1 s "
     "(stage 14.0: task 12))", 4000.0),
    ("total (min, med, max (stageId: taskId))\n101.1 KiB (49.8 KiB, "
     "51.3 KiB, 51.3 KiB (stage 14.0: task 12))", 101.1 * 1024),
    ("total (min, med, max (stageId: taskId))\n1088.4 KiB (64.2 KiB, "
     "1024.2 KiB, 1024.2 KiB (stage 14.0: task 12))", 1088.4 * 1024),
    ("total (min, med, max (stageId: taskId))\n518 ms (214 ms, 304 ms, "
     "304 ms (stage 17.0: task 15))", 518.0),
    ("total (min, med, max (stageId: taskId))\n25.3 KiB (1728.0 B, "
     "23.7 KiB, 23.7 KiB (stage 20.0: task 18))", 25.3 * 1024),
    ("0 ms", 0.0),
    ("290 ms", 290.0),
    ("1.6 s", 1600.0),
    ("1.1 s", 1100.0),
    ("1024.2 KiB", 1024.2 * 1024),
    ("1776.0 B", 1776.0),
    ("4.3 MiB", 4.3 * 2 ** 20),
    ("2006.1 KiB", 2006.1 * 1024),
    ("4,288", 4288.0),
    ("200", 200.0),
]


@pytest.mark.parametrize("text,want", CAPTURED)
def test_parse_sql_metric_captured(text, want):
    assert counters.parse_sql_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", [
    None, "", "n/a", "1.2 parsecs", "min (x)\n1 s", "total\nabc (1 s)"])
def test_parse_sql_metric_rejects(text):
    with pytest.raises(ValueError):
        counters.parse_sql_metric(text)


def test_failed_counter_is_null_not_zero():
    c = counters.Counters()
    c.fail(["py.init_ms"], "value missing")
    assert c.values["py.init_ms"] is None
    assert c.errors["py.init_ms"] == "value missing"
    total = counters.Counters()
    total.add(c)
    total.add(counters.Counters())          # a later good read
    assert total.values["py.init_ms"] is None
    assert total.errors["py.init_ms"] == "value missing"
    assert total.values["exec.jobs"] == 0.0


def test_job_kind():
    assert counters.job_kind("localCheckpoint at Native.java:0") == \
        "checkpoint"
    assert counters.job_kind("collect at /x/similarity.py:998") == "collect"
    assert counters.job_kind("first at /x/dedup.py:1011") == "collect"
    assert counters.job_kind(
        "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
    ) == "other"


def test_covered_ms_unions_overlaps():
    assert counters._covered_ms([]) == 0.0
    assert counters._covered_ms([(0, 10), (5, 20), (30, 35)]) == 25.0


def test_seeded_order_and_batches_repeat():
    for c in range(3):
        assert (workloads.cycle_order(workloads.CLINICAL_KEYS, 5, c)
                == workloads.cycle_order(workloads.CLINICAL_KEYS, 5, c))
        a, b = workloads.txn_cycle(5, c), workloads.txn_cycle(5, c)
        pd.testing.assert_frame_equal(a["merge"], b["merge"])
        pd.testing.assert_frame_equal(a["feed"], b["feed"])
        assert a["range_lo"] == b["range_lo"]


def test_other_seed_changes_order_and_batches():
    orders = {tuple(workloads.cycle_order(workloads.CLINICAL_KEYS, s, 1))
              for s in range(6)}
    assert len(orders) > 1
    a, b = workloads.txn_cycle(5, 1), workloads.txn_cycle(6, 1)
    assert not a["merge"].equals(b["merge"])
    assert not a["feed"].equals(b["feed"])


def test_txn_batches_shape():
    p = workloads.txn_cycle(1, 5)
    assert len(p["merge"]) == workloads.MERGE_ROWS
    assert p["merge"].o_orderkey.is_unique
    assert p["feed"].o_orderkey.is_unique
    assert (p["feed"].op == "delete").sum() == workloads.APPLY_DELETES
    assert not p["compact"]
    assert [c for c in range(10) if workloads.txn_cycle(1, c)["compact"]] \
        == [0, 4, 8]


def test_txn_model_change_rows():
    base = workloads._rows(np.random.default_rng(0), np.arange(10))
    m = workloads.TxnModel(base)
    upd = base.iloc[[1, 2]].copy()
    upd.loc[:, "o_totalprice"] += 1.0
    new = base.iloc[[0]].copy()
    new["o_orderkey"] = 99
    m.merge(pd.concat([upd, new]))
    assert m.count() == 11
    assert m.change_rows(0, 1) == 1 + 2 * 2       # 1 insert, 2 updates
    feed = base.iloc[[3, 4]].copy()
    feed["op"] = ["delete", "upsert"]             # key 4 rewritten as is
    m.apply_changes(feed)
    assert m.count() == 10
    assert m.change_rows(1, 2) == 1                # one delete only
    assert m.range_count(0, 5) == 4


def test_fixture_is_the_recorded_sf01_copy():
    """Every table the engine reads is in the fixture, byte for byte as
    recorded in SHA256SUMS."""
    sys.path.insert(0, os.path.dirname(HERE))
    from docker_aktin_dwh_spark.catalog import TABLES
    with open(os.path.join(HERE, "fixture", "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f)
    assert set(sums) == {f"{t}.parquet" for t in TABLES}
    for name, want in sums.items():
        with open(os.path.join(run.SF_DIR, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == want, name


def test_percentiles():
    assert run.pct([3.0], 90) == 3.0
    assert run.pct([1.0, 2.0, 3.0], 50) == pytest.approx(2.0)
    assert run.pct([5.0] * 7, 90) == pytest.approx(5.0)
    assert run.pct(list(map(float, range(101))), 90) == pytest.approx(
        90.0, abs=0.5)
    xs = [0.5, 0.6, 0.7, 0.9, 1.5, 2.4, 3.3, 4.7, 11.5]
    assert min(xs) < run.pct(xs, 50) < run.pct(xs, 90) < max(xs)


def _bench_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_runner():
    bj = _bench_json()
    assert set(bj) == {"command", "paths", "run_seconds", "workloads",
                       "end_to_end", "per_layer"}
    assert {w["name"] for w in bj["workloads"]} <= set(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bj["end_to_end"]] == \
        list(run.E2E)
    assert [(m["name"], m["unit"], m["better"]) for m in bj["per_layer"]] \
        == list(run.LAYERS)
    setup = [m for m in bj["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bj["end_to_end"])


def test_benchmark_json_follows_the_format():
    bj = _bench_json()
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in bj[k]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    for w in bj["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in bj["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert unit.match(m["unit"]) and 0 < m["bound"] <= 0.25
    for m in bj["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert unit.match(m["unit"])
    assert 2 <= len(bj["workloads"]) <= 8
    assert 1 <= bj["run_seconds"] <= 60
    for p in bj["paths"]:
        assert re.match(r"^[A-Za-z0-9_./-]{1,200}$", p)
        assert not p.startswith("/") and ".." not in p.split("/")
    assert len(json.dumps(bj)) <= 64 * 1024


def test_session_width_comes_from_the_cores(tmp_path, monkeypatch):
    for k in ("TMPDIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS",
              "PYSPARK_SUBMIT_ARGS", "PYSPARK_PYTHON", "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr("tempfile.tempdir", None)
    run.configure_env(str(tmp_path / "run"))
    assert os.environ["SPARK_GRAFT_CPUS"] == str(len(os.sched_getaffinity(0)))
    # every scratch directory the JVM and Spark get is inside the run dir
    for k in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        assert os.environ[k].startswith(str(tmp_path))
    assert str(tmp_path) in os.environ["JAVA_TOOL_OPTIONS"]

