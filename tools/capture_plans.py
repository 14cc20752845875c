"""Capture explain('formatted') + warm timings + work counters for keys.

Usage: python capture_plans.py <suffix> key1 key2 ...   (or 'ALL' for headline set)
Writes $PLANS_DIR/<key>_<suffix>.txt (default plans/r16 in the repo) and
prints per-key medians plus load-invariant work counters: job count,
executor task time, input bytes, shuffle read/write bytes, task count —
diffed around the LAST (steady-state) run, so control-plane optimizations
(fewer driver round-trips) leave artifact evidence, not just wall-clock
prose (VERDICT r15 item 7).  A counter whose read fails is recorded as
null with the reason under "errors", never as 0 ("no work").
"""
import os, sys, time, json

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_EXEC_COUNTERS = ("task_time_ms", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "tasks")
COUNTERS = _EXEC_COUNTERS + ("jobs",)


def _counters(sc):
    """Cumulative work from the AppStatusStore + the DAGScheduler's job
    counter (total jobs submitted so far — monotone, so a diff around a
    run is that run's job count).  A failed read sets its counters to
    None and records why in ``out["errors"]``."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.2)
    out = dict.fromkeys(COUNTERS, 0)
    errors = {}
    try:
        store = sc._jsc.sc().statusStore()
        lst = store.executorList(False)
        for i in range(lst.size()):
            e = lst.apply(i)
            out["task_time_ms"] += e.totalDuration()
            out["input_bytes"] += e.totalInputBytes()
            out["shuffle_read_bytes"] += e.totalShuffleRead()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
            out["tasks"] += e.totalTasks()
    except Exception as e:
        for k in _EXEC_COUNTERS:
            out[k] = None
            errors[k] = f"statusStore: {type(e).__name__}: {e}"
    try:
        out["jobs"] = int(sc._jsc.sc().dagScheduler().nextJobId())
    except Exception as e:
        out["jobs"] = None
        errors["jobs"] = f"dagScheduler: {type(e).__name__}: {e}"
    out["errors"] = errors
    return out


def _diff(c0, c1):
    """Work done between two ``_counters`` reads: None (with the
    reasons) for any counter either read failed on."""
    work = {k: None if c0[k] is None or c1[k] is None else c1[k] - c0[k]
            for k in COUNTERS}
    work["errors"] = {**c0["errors"], **c1["errors"]}
    return work


def main(argv):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from docker_aktin_dwh_spark.registry import build_registry
    from docker_aktin_dwh_spark.session import build_session
    from pyspark.sql import functions as F
    import pandas as pd

    suffix = argv[1]
    keys = argv[2:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.join(REPO, "perfbench", "fixture", "sf0.1"))
    plans_dir = os.environ.get("PLANS_DIR", os.path.join(REPO, "plans", "r16"))
    spark = build_session(app_name="plancap")
    sc = spark.sparkContext
    registry = build_registry()
    if keys == ["ALL"]:
        import bench
        keys = list(bench.HEADLINE)

    registry["jn_01"].fn(spark, sf).count()

    @F.pandas_udf("double")
    def _warm(x: pd.Series) -> pd.Series:
        return x
    spark.range(1000).repartition(32).select(
        _warm(F.col("id").cast("double"))).count()

    os.makedirs(plans_dir, exist_ok=True)
    out = {}
    for key in keys:
        fn = registry[key].fn
        runs = []
        work = None
        for i in range(3):
            c0 = _counters(sc) if i == 2 else None
            t0 = time.perf_counter()
            df = fn(spark, sf)
            df.count()
            runs.append(time.perf_counter() - t0)
            if i == 2:
                work = _diff(c0, _counters(sc))
        # plan of the last build (cheap: _explainString, no execution)
        try:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception:
            import io, contextlib
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        with open(f"{plans_dir}/{key}_{suffix}.txt", "w") as f:
            f.write(plan)
            f.write("\n-- work counters (steady-state run 3 of 3): "
                    + json.dumps(work) + "\n")
        runs.sort()
        out[key] = {"med": round(runs[1], 3), "min": round(runs[0], 3),
                    "max": round(runs[2], 3), "work": work}
        print(f"{key:16s} med={runs[1]:7.3f} min={runs[0]:7.3f} "
              f"max={runs[2]:7.3f} jobs={work['jobs']} "
              f"task_ms={work['task_time_ms']}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv)
