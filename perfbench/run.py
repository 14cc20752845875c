"""Benchmark of the engine: seeded closed-loop workloads.

    python3 perfbench/run.py --workload corpus_curation --seed 1 \\
        --seconds 10 --trace 0

Workloads (one process, one closed-loop client, ``local[nproc]``):

- ``clinical_olap``: i2b2-shaped star joins, the cohort panel, the
  ontology rollup, the EAV pivot, windows and aggregates.  No Python
  UDFs: the Python-worker layer is bypassed.
- ``corpus_curation``: SemDeDup, exact top-k ANN, the PNG codec, the
  text quality scan and BM25 — Arrow/pandas UDFs, barrier jobs and
  wide shuffles.
- ``txn_churn``: writes beside reads on the txnlog table format over
  ``orders`` (150k rows, 8 range files): merge, mixed apply_changes,
  a 1,000-key filtered read, a full aggregate, the change feed v-2..v,
  time travel to v-3; every 4th cycle also compacts.

The input is the engine's sf0.1 test fixture, a byte-identical copy
kept in ``fixture/sf0.1`` (checksums in ``fixture/SHA256SUMS``);
``--seed`` sets the key order of every cycle and every generated txn
batch.  A run sets up, runs one warm-up cycle (counted in ``setup_s``;
it also checks every oracle-backed key against DuckDB), then runs
``--seconds`` / ``CYCLE_S`` timed cycles (at least one; for
``txn_churn`` whole compaction periods of four), checking each
operation's output as it goes.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The lines above it repeat
every metric by name and unit.

The traced run (``--trace 1``) runs four cycles, the first and the
last traced, so its counts repeat exactly for a seed; per-layer values
are per traced cycle, and ``trace.overhead`` is traced over untraced
cycle time.  Spans are written to ``.perfbench_work/traces/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SF_NAME = "sf0.1"
SF_DIR = os.path.join(HERE, "fixture", SF_NAME)

WORKLOADS = ("clinical_olap", "corpus_curation", "txn_churn")
SETUP_REPS = 3
#: ``--seconds`` buys one timed cycle per this many seconds (at least
#: one), so a run does the same work on any machine and a faster build
#: is never measured on more, warmer cycles than its parent
CYCLE_S = 5.0
#: the traced run: which of its cycles are traced.  The first and the
#: last, so a linear trend across cycles (the JIT warming, txn reads
#: slowing as changes pile up) cancels in the overhead ratio; four
#: cycles, so txn_churn's traced run holds its compaction (cycle 4)
TRACE_PATTERN = (True, False, False, True)

#: end-to-end metrics (name, unit), reported by every workload
E2E = (("setup_s", "s"), ("cycle_s", "s"), ("op_p50_s", "s"),
       ("op_p90_s", "s"))

#: per-layer metrics (name, unit, better), reported by every workload
#: with ``--trace 1``; a layer a workload does not exercise reads 0
LAYERS = (
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("registry.setup_s", "s", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("catalog.load_s", "s", "lower"),
    ("operators.build_s", "s", "lower"),
    ("operators.build_jobs", "count", "lower"),
    ("action.s", "s", "lower"),
    ("driver.plan_ms", "ms", "lower"),
    ("driver.gap_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.jobs.checkpoint", "count", "lower"),
    ("exec.jobs.collect", "count", "lower"),
    ("exec.jobs.write", "count", "lower"),
    ("exec.run_ms", "ms", "lower"),
    ("exec.cpu_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.deser_ms", "ms", "lower"),
    ("exec.input_bytes", "B", "lower"),
    ("exec.shuffle_read_bytes", "B", "lower"),
    ("exec.shuffle_write_bytes", "B", "lower"),
    ("exec.spill_bytes", "B", "lower"),
    ("py.start_ms", "ms", "lower"),
    ("py.init_ms", "ms", "lower"),
    ("py.run_ms", "ms", "lower"),
    ("py.bytes_sent", "B", "lower"),
    ("py.bytes_received", "B", "lower"),
    ("py.nodes", "count", "lower"),
    ("txnlog.snapshot_s", "s", "lower"),
    ("txnlog.merge_s", "s", "lower"),
    ("txnlog.apply_changes_s", "s", "lower"),
    ("txnlog.compact_s", "s", "lower"),
    ("txnlog.read_table_s", "s", "lower"),
    ("txnlog.table_changes_s", "s", "lower"),
    ("txnlog.jobs_per_commit", "count", "lower"),
    ("txnlog.files_live", "count", "lower"),
    ("txnlog.dv_files", "count", "lower"),
    ("txnlog.dv_rows", "count", "lower"),
    ("txnlog.log_versions", "count", "lower"),
    ("txnlog.staged_bytes", "B", "lower"),
    ("txnlog.prune_ratio", "ratio", "lower"),
    ("txnlog.conflicts", "count", "lower"),
    ("txn.write_p50_s", "s", "lower"),
    ("txn.write_p90_s", "s", "lower"),
    ("txn.read_p50_s", "s", "lower"),
    ("txn.read_p90_s", "s", "lower"),
    ("txn.write_amp", "ratio", "lower"),
    ("trace.overhead", "ratio", "lower"),
)


# -- environment ----------------------------------------------------------

def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def configure_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the engine write inside the
    checkout, and size the session from the cores this process may use."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'wh')} "
        f"--conf spark.local.dir={local} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    import tempfile
    tempfile.tempdir = None          # re-read TMPDIR


class RssSampler(threading.Thread):
    """Peak resident set of the process tree under ``root`` (the driver
    JVM and the Python workers it forks), sampled from /proc.  This
    Python process — the client, the DuckDB oracle, the pandas model —
    is not in that tree."""

    def __init__(self, root: int, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.root = root
        self.interval = interval
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root))
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue            # the process ended while being read
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, ()))
    return total


# -- statistics -----------------------------------------------------------

def pct(values: list[float], q: int) -> float:
    """The ``q``-th percentile by the Harrell-Davis estimator: a mean of
    all order statistics weighted by a Beta((n+1)p, (n+1)(1-p)) law.  A
    run's few dozen op latencies are multimodal (cheap writes, reads that
    slow down, one compaction), and one interpolated order statistic
    jumps between the modes from run to run; this estimate moves far
    less.  The value itself for one sample."""
    import numpy as np
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 0:
        raise ValueError("no samples")
    if n == 1:
        return float(x[0])
    p = q / 100
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    # the Beta CDF at i/n by the midpoint rule on a fine grid
    cells = 20_000
    t = (np.arange(cells) + 0.5) / cells
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    cdf /= cdf[-1]
    edges = cdf[np.round(np.arange(n + 1) / n * cells).astype(int)]
    return float(np.dot(np.diff(edges), x))


def tail_note(n: int) -> str:
    """The highest percentile with at least ten samples beyond it."""
    if n < 11:
        return f"n={n}: no percentile has 10 samples beyond it"
    return f"n={n}: p{int(100 * (n - 10) / n)} has 10 samples beyond it"


# -- the run --------------------------------------------------------------

class Op:
    __slots__ = ("cycle", "name", "kind", "wall", "ok", "traced")

    def __init__(self, cycle, name, kind, wall, ok, traced):
        self.cycle, self.name, self.kind = cycle, name, kind
        self.wall, self.ok, self.traced = wall, ok, traced


class Bench:
    """State shared by the workloads: session, registry, tracer, the
    operation log and the check tally."""

    def __init__(self, args, run_dir: str, sf_dir: str) -> None:
        self.args = args
        self.seed = args.seed
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.ops: list[Op] = []
        self.cycles: list[dict] = []
        self.checks = 0
        self.check_failures: list[str] = []
        #: engine time inside a cycle that is not an operation's
        self.side_s = 0.0
        self.layer: dict[str, float] = {}
        self.spark = None
        self.registry = None
        self.tracer = None
        self.sampler = None

    def check(self, ok: bool, what: str) -> bool:
        """A check outside the timed operations (oracle, final state)."""
        self.checks += 1
        if not ok:
            self.check_failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    def timed_op(self, cycle: int, name: str, kind: str, fn, check) -> None:
        """Time ``fn`` (the engine call and the action that consumes its
        result), then pass its result to ``check`` outside the timed
        region; ``check`` returns None or what is wrong.  An exception
        or a failed check marks the op failed."""
        traced = self.tracer.on
        t0 = time.perf_counter()
        try:
            out = fn()
            wall = time.perf_counter() - t0
            wrong = check(out)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            wall = time.perf_counter() - t0
            traceback.print_exc()
            wrong = f"raised {e!r}"
        if wrong is not None:
            print(f"OP FAILED: cycle {cycle} {name}: {wrong}",
                  file=sys.stderr)
        self.ops.append(Op(cycle, name, kind, wall, wrong is None, traced))

    def run_cycle(self, wl, c: int, inputs) -> float:
        """Run cycle ``c`` of ``wl``; returns the engine's time in it —
        its operations plus ``side_s`` — not the checks between them."""
        n_ops, side0 = len(self.ops), self.side_s
        wl.cycle(c, inputs)
        return sum(o.wall for o in self.ops[n_ops:]) + self.side_s - side0


def expect(got, want, what: str) -> str | None:
    return None if got == want else f"{what} {got} != {want}"


class _Collected:
    """An already collected result, in the shape oracle_harness.compare
    expects (it calls ``toPandas()``)."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class QueryWorkload:
    """clinical_olap and corpus_curation: every cycle runs each
    registry key once, in a seeded order, and counts its rows."""

    def __init__(self, bench: Bench, keys: tuple[str, ...]) -> None:
        self.b = bench
        self.keys = keys
        self.expected: dict[str, int] = {}

    def setup_rep(self, rep: int) -> None:
        from docker_aktin_dwh_spark import catalog
        for name in catalog.TABLES:
            catalog.load(self.b.spark, self.b.sf_dir, name).schema

    def warm(self) -> float:
        """Run every key once; check oracle-backed keys against DuckDB
        and record each key's row count.  Returns the Spark-side time."""
        from workloads import cycle_order
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        import oracle_harness
        con = oracle_harness.duck_connection(self.b.sf_dir)
        spark_s = 0.0
        try:
            for key in cycle_order(self.keys, self.b.seed, 0):
                spec = self.b.registry[key]
                duck = (con.execute(spec.oracle).df()
                        if spec.oracle is not None else None)
                t0 = time.perf_counter()
                try:
                    pdf = spec.fn(self.b.spark, self.b.sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001 - counted as failed
                    traceback.print_exc()
                    self.b.check(False, f"{key} raised {e!r} in warm-up")
                    self.expected[key] = None
                    continue
                finally:
                    spark_s += time.perf_counter() - t0
                self.expected[key] = len(pdf)
                if duck is not None:
                    ok, why = oracle_harness.compare(_Collected(pdf), duck)
                    self.b.check(ok, f"{key} oracle: {why}")
        finally:
            con.close()
        return spark_s

    def prepare(self, c: int):
        from workloads import cycle_order
        return cycle_order(self.keys, self.b.seed, c)

    def cycle(self, c: int, order) -> None:
        for key in order:
            self.b.timed_op(
                c, key, "read", lambda k=key: self._op(c, k),
                lambda n, k=key: expect(n, self.expected[k], "rows"))

    def _op(self, c: int, key: str) -> int:
        tr = self.b.tracer
        with tr.span(key, op=f"{c}:{key}") as sp:
            with tr.span("operators.build", counters=True):
                df = self.b.registry[key].fn(self.b.spark, self.b.sf_dir)
            with tr.span("action", counters=True):
                # DataFrame.count() is groupBy().count() on the JVM side;
                # spelling it out keeps the query execution reachable
                # for its planning-phase times
                cdf = df.groupBy().count()
                n = cdf.collect()[0][0]
            if sp is not None:
                from counters import plan_ms
                sp.attrs["plan_ms"] = plan_ms(cdf)
        return n

    def final_check(self) -> None:
        pass


class TxnWorkload:
    """txn_churn: merge, apply_changes and four reads per cycle on one
    txnlog table, checked against a pandas model of the same inputs."""

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.path = None
        self.schema = None
        self.model = None
        self.user_bytes = 0
        self.state: list[dict] = []
        self.staged: list[int] = []

    def setup_rep(self, rep: int) -> None:
        import pandas as pd
        from docker_aktin_dwh_spark.sources import txnlog
        from workloads import TXN_FILES, TXN_KEY, TxnModel
        spark = self.b.spark
        orders = spark.read.parquet(f"{self.b.sf_dir}/orders.parquet")
        path = os.path.join(self.b.run_dir, f"txn{rep}", "orders")
        txnlog.create_table(spark, orders.repartitionByRange(
            TXN_FILES, TXN_KEY), path, key=TXN_KEY)
        if rep == SETUP_REPS - 1:
            self.path = path
            self.schema = orders.schema
            self.model = TxnModel(pd.read_parquet(
                f"{self.b.sf_dir}/orders.parquet"))

    def warm(self) -> float:
        return self.b.run_cycle(self, 0, self.prepare(0))

    def prepare(self, c: int) -> dict:
        """The cycle's generated inputs as Spark frames (client work,
        outside the cycle's timing)."""
        import pyarrow as pa
        from pyspark.sql.types import StringType, StructField, StructType
        from workloads import txn_cycle
        plan = txn_cycle(self.b.seed, c)
        for name in ("merge", "feed"):
            self.user_bytes += pa.Table.from_pandas(
                plan[name], preserve_index=False).nbytes
        feed_schema = StructType(self.schema.fields
                                 + [StructField("op", StringType())])
        spark = self.b.spark
        plan["merge_df"] = spark.createDataFrame(plan["merge"],
                                                 schema=self.schema)
        plan["feed_df"] = spark.createDataFrame(plan["feed"],
                                                schema=feed_schema)
        return plan

    def cycle(self, c: int, plan: dict) -> None:
        from pyspark.sql import functions as F
        from docker_aktin_dwh_spark.sources import txnlog
        from workloads import RANGE_WIDTH, TXN_FILES, TXN_KEY
        b, tr, m = self.b, self.b.tracer, self.model
        spark, path = b.spark, self.path

        def write(verb, fn, model_step):
            def run():
                with tr.span(f"txnlog.{verb}", op=f"{c}:{verb}",
                             counters=True):
                    return fn()

            def check(_):
                model_step()
                return self._version_wrong()
            before = dir_bytes(path, data_only=True) if tr.on else 0
            b.timed_op(c, verb, "write" if verb != "compact"
                       else "maintenance", run, check)
            if tr.on and verb != "compact":
                self.staged.append(dir_bytes(path, data_only=True) - before)

        def read(name, span, fn, check):
            def run():
                with tr.span(span, op=f"{c}:{name}", counters=True):
                    return fn()
            b.timed_op(c, name, "read", run, check)

        write("merge", lambda: txnlog.merge(spark, path, plan["merge_df"],
                                            key=TXN_KEY),
              lambda: m.merge(plan["merge"]))
        write("apply_changes", lambda: txnlog.apply_changes(
            spark, path, plan["feed_df"], key=TXN_KEY),
              lambda: m.apply_changes(plan["feed"]))

        t0 = time.perf_counter()
        with tr.span("txnlog.snapshot", op=f"{c}:snapshot"):
            snap = txnlog.snapshot(path)
        b.side_s += time.perf_counter() - t0
        v = snap.version
        tt = max(v - 3, 0)       # the first cycle has only versions 0..2
        lo, hi = plan["range_lo"], plan["range_lo"] + RANGE_WIDTH
        filters = [(TXN_KEY, ">=", lo), (TXN_KEY, "<", hi)]
        if tr.on:
            self.state.append(table_state(snap, filters))

        read("read_range", "txnlog.read_table",
             lambda: txnlog.read_table(spark, path, filters=filters)
             .filter((F.col(TXN_KEY) >= lo) & (F.col(TXN_KEY) < hi)).count(),
             lambda n: expect(n, m.range_count(lo, hi), "rows"))
        read("read_agg", "txnlog.read_table",
             lambda: txnlog.read_table(spark, path).agg(
                 F.count(F.lit(1)), F.sum("o_totalprice")).collect()[0],
             lambda r: expect(r[0], m.count(), "rows") or (
                 None if abs(r[1] - m.total_price())
                 <= 1e-6 * abs(m.total_price())
                 else f"price sum {r[1]} != {m.total_price()}"))
        read("table_changes", "txnlog.table_changes",
             lambda: txnlog.table_changes(spark, path, v - 2, v,
                                          key=TXN_KEY).count(),
             lambda n: expect(n, m.change_rows(v - 2, v), "change rows"))
        read("time_travel", "txnlog.read_table",
             lambda: txnlog.read_table(spark, path, version=tt).count(),
             lambda n: expect(n, m.count(tt), "rows"))
        if plan["compact"]:
            write("compact", lambda: txnlog.compact(
                spark, path, key=TXN_KEY, target_files=TXN_FILES),
                  m.compact)

    def _version_wrong(self) -> str | None:
        """A commit must land on exactly the next version; anything else
        is counted as a conflict."""
        from docker_aktin_dwh_spark.sources import txnlog
        got = txnlog.snapshot(self.path).version
        if got == self.model.version:
            return None
        self.b.layer["txnlog.conflicts"] = (
            self.b.layer.get("txnlog.conflicts", 0) + 1)
        return f"left version {got}, the model expects {self.model.version}"

    def final_check(self) -> None:
        from docker_aktin_dwh_spark.sources import txnlog
        from workloads import TXN_KEY
        got = (txnlog.read_table(self.b.spark, self.path).toPandas()
               .sort_values(TXN_KEY).reset_index(drop=True))
        want = self.model.frame()[got.columns].reset_index(drop=True)
        same = (len(got) == len(want)
                and all((got[c].to_numpy() == want[c].to_numpy()).all()
                        for c in got.columns))
        self.b.check(same, f"final snapshot ({len(got)} rows) differs from "
                           f"the model ({len(want)} rows)")


def dir_bytes(path: str, data_only: bool = False) -> int:
    total = 0
    for dirpath, dirs, files in os.walk(path):
        if data_only and "_txnlog" in dirs:
            dirs.remove("_txnlog")
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                continue
    return total


def table_state(snap, filters) -> dict:
    from docker_aktin_dwh_spark.sources import txnlog
    live = len(snap.files)
    dvs = [f["dv"] for f in snap.files.values() if f.get("dv")]
    return {"files_live": live,
            "dv_files": len(dvs),
            "dv_rows": sum(e - s + 1 for dv in dvs for s, e in dv),
            "log_versions": snap.version + 1,
            "prune_ratio": len(txnlog.prune_files(snap, filters)) / live}


# -- reporting ------------------------------------------------------------

def timed_ops(b: Bench) -> list[Op]:
    """Operations of the untraced timed cycles (the warm-up cycle 0 is
    not timed)."""
    return [o for o in b.ops if o.cycle > 0 and not o.traced]


def e2e_metrics(b: Bench, setup_s: float) -> dict:
    ops = [o.wall for o in timed_ops(b)]
    cycles = [c["wall"] for c in b.cycles if not c["traced"]]
    return {"setup_s": setup_s,
            "cycle_s": statistics.median(cycles),
            "op_p50_s": pct(ops, 50),
            "op_p90_s": pct(ops, 90)}


def txn_extras(b: Bench, growth: int, user_bytes: int) -> dict:
    ops = timed_ops(b)
    w = [o.wall for o in ops if o.kind == "write"]
    r = [o.wall for o in ops if o.kind == "read"]
    if not w:
        return {}
    return {"txn.write_p50_s": pct(w, 50), "txn.write_p90_s": pct(w, 90),
            "txn.read_p50_s": pct(r, 50), "txn.read_p90_s": pct(r, 90),
            "txn.write_amp": growth / user_bytes}


def layer_metrics(b: Bench, wl_state: dict) -> tuple[dict, dict]:
    """Per-layer values from the traced cycles; returns (values,
    reasons for values that could not be read)."""
    from counters import Counters
    tr = b.tracer
    traced = [c for c in b.cycles if c["traced"]]
    n = len(traced)
    ids = {c["cycle"] for c in traced}
    spans = [s for s in tr.spans
             if s.op is not None and int(s.op.split(":")[0]) in ids]
    total = Counters()
    build = Counters()
    writes = Counters()
    for s in spans:
        if s.counters is None:
            continue
        total.add(s.counters)
        if s.name == "operators.build":
            build.add(s.counters)
        if s.name in ("txnlog.merge", "txnlog.apply_changes",
                      "txnlog.compact"):
            writes.add(s.counters)
    out: dict[str, float | None] = {k: 0.0 for k, _, _ in LAYERS}
    reasons = dict(total.errors)
    for k, v in total.values.items():
        if k in out:
            out[k] = None if v is None else v / n

    def per_cycle(name):
        return sum(s.dur for s in tr.top_level(name, spans)) / n

    out["catalog.load_s"] = per_cycle("catalog.")
    out["operators.build_s"] = per_cycle("operators.build")
    out["action.s"] = per_cycle("action")
    bj = build.values["exec.jobs"]
    out["operators.build_jobs"] = None if bj is None else bj / n
    if bj is None:
        reasons["operators.build_jobs"] = build.errors.get("exec.jobs", "")
    out["driver.plan_ms"] = sum(s.attrs.get("plan_ms", 0.0)
                                for s in spans) / n
    # the counted spans' own time: each ends before its status-store
    # read, so the probe's work is not reported as driver gap
    counted = sum(s.dur for s in spans if s.counters is not None)
    cover = total.values["exec.job_cover_s"]
    out["driver.gap_s"] = None if cover is None else (counted - cover) / n
    if cover is None:
        reasons["driver.gap_s"] = total.errors.get("exec.job_cover_s", "")

    for verb in ("snapshot", "merge", "apply_changes", "compact",
                 "read_table", "table_changes"):
        durs = [s.dur for s in spans if s.name == f"txnlog.{verb}"]
        out[f"txnlog.{verb}_s"] = statistics.median(durs) if durs else 0.0
    commits = sum(1 for s in spans if s.name in (
        "txnlog.merge", "txnlog.apply_changes", "txnlog.compact"))
    if commits:
        wj = writes.values["exec.jobs"]
        out["txnlog.jobs_per_commit"] = None if wj is None else wj / commits
        out["txnlog.staged_bytes"] = sum(wl_state.get("staged", ())) / n
    states = wl_state.get("state", [])
    for k in ("files_live", "dv_files", "dv_rows", "log_versions",
              "prune_ratio"):
        if states:
            out[f"txnlog.{k}"] = statistics.mean(s[k] for s in states)
    out.update(b.layer)
    return out, reasons


def emit(b: Bench, metrics: dict, units: dict, extras: dict,
         reasons: dict) -> int:
    attempted = len(b.ops) + b.checks
    failed = sum(1 for o in b.ops if not o.ok) + len(b.check_failures)
    n_ops = len(timed_ops(b))
    print(f"# workload={b.args.workload} seed={b.seed} "
          f"cpus={os.environ['SPARK_GRAFT_CPUS']} input={SF_NAME} "
          f"loop=closed clients=1 cycles={len(b.cycles)} "
          f"ops={len(b.ops)} checks={b.checks}")
    for k, v in {**metrics, **extras}.items():
        note = f"  ({tail_note(n_ops)})" if k.endswith("p90_s") else ""
        why = f"  null: {reasons[k]}" if v is None and k in reasons else ""
        shown = "null" if v is None else f"{v:.6g}"
        print(f"{k} {shown} {units.get(k, '')}{note}{why}")
    for o in b.ops:
        print(f"op {o.cycle} {o.name} {o.wall:.3f}{'' if o.ok else ' FAILED'}"
              f"{' traced' if o.traced else ''}", file=sys.stderr)
    print(f"error_rate {failed / attempted:.6g} ratio  "
          f"(failed {failed} of {attempted})")
    result = {"correct": failed == 0,
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}
    print(json.dumps(result))
    return 0


# -- main -----------------------------------------------------------------

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # a checkout without the engine package has nothing to measure:
    # fail before writing anything
    import docker_aktin_dwh_spark  # noqa: F401
    from docker_aktin_dwh_spark.catalog import TABLES
    missing = [t for t in TABLES
               if not os.path.isfile(os.path.join(SF_DIR, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"fixture tables missing in {SF_DIR}: {missing}")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir)

    b = Bench(args, run_dir, SF_DIR)
    try:
        return _run(b)
    finally:
        if b.sampler is not None:
            b.sampler.stop()
        stop_spark(b.spark)
        if b.tracer is not None and b.tracer.spans:
            tdir = os.path.join(WORK, "traces")
            os.makedirs(tdir, exist_ok=True)
            b.tracer.dump(os.path.join(
                tdir, f"{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(b: Bench) -> int:
    from counters import StatusProbe
    from spans import Tracer
    args = b.args
    traced_run = args.trace == 1
    t0 = time.perf_counter()
    from docker_aktin_dwh_spark.session import build_session
    b.spark = build_session(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    b.sampler = RssSampler(jvm_pid(b.spark))
    b.sampler.start()
    b.tracer = Tracer(StatusProbe(b.spark) if traced_run else None)
    if traced_run:
        from docker_aktin_dwh_spark import catalog
        b.tracer.wrap(catalog, "load", "catalog.load")
        b.tracer.wrap(catalog, "clinical_tables", "catalog.clinical_tables")

    from docker_aktin_dwh_spark.registry import build_registry
    from workloads import CLINICAL_KEYS, COMPACT_EVERY, CORPUS_KEYS
    if args.workload == "clinical_olap":
        wl = QueryWorkload(b, CLINICAL_KEYS)
    elif args.workload == "corpus_curation":
        wl = QueryWorkload(b, CORPUS_KEYS)
    else:
        wl = TxnWorkload(b)
    reps = []
    for rep in range(SETUP_REPS):
        t1 = time.perf_counter()
        b.registry = build_registry()
        wl.setup_rep(rep)
        reps.append(time.perf_counter() - t1)
    warm_s = wl.warm()
    setup_s = session_s + statistics.median(reps) + warm_s
    print(f"setup: session {session_s:.2f}s reps "
          f"{[round(r, 2) for r in reps]} warm {warm_s:.2f}s",
          file=sys.stderr)
    b.layer.update({"session.start_s": session_s,
                    "session.warmup_s": warm_s,
                    "registry.setup_s": statistics.median(reps)})

    growth0 = dir_bytes(wl.path) if isinstance(wl, TxnWorkload) else 0
    user0 = getattr(wl, "user_bytes", 0)
    if traced_run:
        pattern = TRACE_PATTERN
    else:
        # txn_churn runs whole compaction periods
        period = COMPACT_EVERY if isinstance(wl, TxnWorkload) else 1
        pattern = (False,) * period * max(1, round(
            args.seconds / (CYCLE_S * period)))
    for c, on in enumerate(pattern, start=1):
        inputs = wl.prepare(c)
        b.tracer.on = on
        n_ops = len(b.ops)
        wall = b.run_cycle(wl, c, inputs)
        compact_s = sum(o.wall for o in b.ops[n_ops:] if o.name == "compact")
        b.cycles.append({"cycle": c, "wall": wall, "traced": on,
                         "wall_no_compact": wall - compact_s})
        b.tracer.on = False
    extras = {"jvm.peak_rss_mb": b.sampler.peak_kb / 1024}
    wl_state = {}
    if isinstance(wl, TxnWorkload):
        wl_state = {"state": wl.state, "staged": wl.staged}
        extras.update(txn_extras(b, dir_bytes(wl.path) - growth0,
                                 wl.user_bytes - user0))
    wl.final_check()

    units = {**dict(E2E), **{k: u for k, u, _ in LAYERS}}
    if not traced_run:
        return emit(b, e2e_metrics(b, setup_s), units, extras, {})
    values, reasons = layer_metrics(b, wl_state)
    values.update(extras)
    plain = [x["wall_no_compact"] for x in b.cycles if not x["traced"]]
    traced = [x["wall_no_compact"] for x in b.cycles if x["traced"]]
    values["trace.overhead"] = statistics.median(traced) / statistics.median(
        plain)
    return emit(b, values, units, {}, reasons)


def jvm_pid(spark) -> int:
    """The driver JVM: the process PySpark launched its gateway in."""
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end."""
    if spark is None:
        return
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
