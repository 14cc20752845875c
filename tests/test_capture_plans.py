"""tools/capture_plans.py's work counters: a status-store or scheduler
read that fails is recorded as null with a reason, never as 0."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "capture_plans.py")
_spec = importlib.util.spec_from_file_location("capture_plans", _TOOL)
capture_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(capture_plans)


class _Executor:
    def totalDuration(self): return 40
    def totalInputBytes(self): return 1000
    def totalShuffleRead(self): return 10
    def totalShuffleWrite(self): return 20
    def totalTasks(self): return 4


class _List:
    def size(self): return 2
    def apply(self, i): return _Executor()


class _Obj:
    """Attribute bag: each keyword is a zero-argument method."""
    def __init__(self, **methods):
        for name, fn in methods.items():
            setattr(self, name, fn)


def _raise(msg):
    def fn(*_):
        raise RuntimeError(msg)
    return fn


def _fake_sc(*, store=None, jobs=None):
    """A SparkContext stand-in exposing only what _counters reads."""
    store = store or (lambda: _Obj(executorList=lambda _active: _List()))
    jobs = jobs or (lambda: 7)
    scala = _Obj(listenerBus=lambda: _Obj(waitUntilEmpty=lambda: None),
                 statusStore=store,
                 dagScheduler=lambda: _Obj(nextJobId=jobs))
    return _Obj(_jsc=_Obj(sc=lambda: scala))


def test_counters_read_the_store_and_scheduler():
    c = capture_plans._counters(_fake_sc())
    assert c == {"task_time_ms": 80, "input_bytes": 2000,
                 "shuffle_read_bytes": 20, "shuffle_write_bytes": 40,
                 "tasks": 8, "jobs": 7, "errors": {}}


def test_failed_store_read_is_null_with_reason_not_zero():
    c = capture_plans._counters(_fake_sc(store=_raise("store closed")))
    for k in ("task_time_ms", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "tasks"):
        assert c[k] is None, (k, c)
        assert "store closed" in c["errors"][k], c
    assert c["jobs"] == 7 and "jobs" not in c["errors"]

    c = capture_plans._counters(_fake_sc(jobs=_raise("no scheduler")))
    assert c["jobs"] is None and "no scheduler" in c["errors"]["jobs"]
    assert c["tasks"] == 8


def test_diff_keeps_a_failed_read_null():
    ok = capture_plans._counters(_fake_sc())
    bad = capture_plans._counters(_fake_sc(store=_raise("store closed")))
    work = capture_plans._diff(ok, bad)
    assert work["tasks"] is None and work["jobs"] == 0
    assert "store closed" in work["errors"]["tasks"]
    assert capture_plans._diff(ok, ok)["tasks"] == 0
