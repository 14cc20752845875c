"""Work counters read from Spark's own status stores.

One adapter, :class:`StatusProbe`, reads the two stores the listener
bus fills even with the UI off:

- ``AppStatusStore`` (``sc._jsc.sc().statusStore()``): per-job callsite
  and submission/completion times, and per-stage task metrics from
  ``stageList(...)`` — executor run, CPU, GC and deserialize time,
  input, shuffle and spill bytes, completed tasks.  Executor summaries
  (``ExecutorSummary.totalDuration``) are NOT used: that field is the
  wall time tasks held a slot, so on a latency-bound key it tracks
  wall time instead of work.
- ``SQLAppStatusStore`` (``sharedState().statusStore()``): the plan
  graph of each SQL execution and its metric strings, from which the
  Python-boundary metrics of every Python node are summed.

Every call into the JVM sits in this module.  A counter that cannot be
read or parsed is recorded as ``None`` with a reason (``Counters.errors``)
— never as 0.
"""

from __future__ import annotations

import re

#: SQL-metric display name on a Python node → counter name.  A node is
#: a Python node when it carries the init-time metric (this covers
#: ArrowEvalPython, BatchEvalPython, MapInPandas, MapInArrow,
#: FlatMapGroupsInPandas, window and aggregate Python nodes alike).
PY_METRICS = {
    "time to start Python workers": "py.start_ms",
    "time to initialize Python workers": "py.init_ms",
    "time to run Python workers": "py.run_ms",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_received",
}
_PY_MARKER = "time to initialize Python workers"

#: every counter a delta carries, in report order
COUNTERS = (
    "exec.jobs", "exec.stages", "exec.tasks",
    "exec.jobs.checkpoint", "exec.jobs.collect", "exec.jobs.write",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.deser_ms",
    "exec.input_bytes", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.job_cover_s",
    "py.start_ms", "py.init_ms", "py.run_ms", "py.bytes_sent",
    "py.bytes_received", "py.nodes",
)

_COLLECT_CALLS = ("collect", "first", "take", "head", "toPandas",
                  "count", "toLocalIterator", "showString")
_CHECKPOINT_CALLS = ("localCheckpoint", "checkpoint")

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40, "PiB": 2.0 ** 50, "EiB": 2.0 ** 60,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?\s*$")


def parse_sql_metric(text: str) -> float:
    """A ``SQLAppStatusStore`` metric string as a number: timings in
    milliseconds, sizes in bytes, sums and averages as plain numbers.

    Accepts the single-value forms (``"0 ms"``, ``"1.6 s"``,
    ``"1024.2 KiB"``, ``"4,288"``) and the per-task statistics form
    ``"total (min, med, max (stageId: taskId))\\n2.9 s (444 ms, ...)"``,
    whose total is the first value of the second line.  Raises
    ``ValueError`` on anything else."""
    if text is None:
        raise ValueError("metric has no value")
    line = text
    if "\n" in text:
        head, line = text.split("\n", 1)
        if not head.startswith("total"):
            raise ValueError(f"unknown metric layout: {text!r}")
        line = line.split(" (", 1)[0]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit not in _UNITS:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return num * _UNITS[unit]


def job_kind(callsite: str) -> str:
    """Classify a job by the first word of its callsite
    (``"collect at dedup.py:998"``)."""
    verb = callsite.split(" at ", 1)[0].strip()
    if verb in _CHECKPOINT_CALLS:
        return "checkpoint"
    if verb in _COLLECT_CALLS:
        return "collect"
    return "other"


class Counters:
    """Counter values of one interval; ``None`` marks a failed read and
    ``errors`` says why."""

    def __init__(self) -> None:
        self.values: dict[str, float | None] = {k: 0.0 for k in COUNTERS}
        self.errors: dict[str, str] = {}

    def fail(self, names, reason: str) -> None:
        for n in names:
            self.values[n] = None
            self.errors.setdefault(n, reason)

    def add(self, other: "Counters") -> None:
        for k, v in other.values.items():
            if v is None or self.values.get(k) is None:
                self.values[k] = None
                if k in other.errors:
                    self.errors.setdefault(k, other.errors[k])
            else:
                self.values[k] = self.values.get(k, 0.0) + v

    def as_dict(self) -> dict[str, float | None]:
        return dict(self.values)


_STAGE_FIELDS = (
    ("exec.run_ms", "executorRunTime", 1.0),
    ("exec.cpu_ms", "executorCpuTime", 1e-6),        # ns → ms
    ("exec.gc_ms", "jvmGcTime", 1.0),
    ("exec.deser_ms", "executorDeserializeTime", 1.0),
    ("exec.input_bytes", "inputBytes", 1.0),
    ("exec.shuffle_read_bytes", "shuffleReadBytes", 1.0),
    ("exec.shuffle_write_bytes", "shuffleWriteBytes", 1.0),
)
_JOB_COUNTERS = ("exec.jobs", "exec.jobs.checkpoint", "exec.jobs.collect",
                 "exec.jobs.write", "exec.job_cover_s")
_STAGE_COUNTERS = tuple(n for n, _, _ in _STAGE_FIELDS) + (
    "exec.stages", "exec.tasks", "exec.spill_bytes")
_PY_COUNTERS = tuple(PY_METRICS.values()) + ("py.nodes",)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _newest(scala_seq, id_field: str, last: int) -> list:
    """Entries of a newest-first status-store list whose id is above
    ``last`` (reads stop at the first older entry)."""
    out = []
    for i in range(scala_seq.size()):
        item = scala_seq.apply(i)
        if getattr(item, id_field)() <= last:
            break
        out.append(item)
    return out


class StatusProbe:
    """Reads what ran since the previous :meth:`delta` call.

    The benchmark runs one client, so every job, stage and SQL execution
    that appears between two calls belongs to the work between them."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.skip()

    def skip(self) -> None:
        """Forget everything that ran so far (cheaper than a delta)."""
        self._drain()
        self._last_job = self._max_job()
        self._last_stage = self._max_stage()
        self._last_exec = self._max_exec()

    # -- JVM reads -------------------------------------------------------
    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def _stages(self):
        return self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList())

    def _max_job(self) -> int:
        js = self._jobs()
        return js.apply(0).jobId() if js.size() else -1

    def _max_stage(self) -> int:
        st = self._stages()
        return st.apply(0).stageId() if st.size() else -1

    def _max_exec(self) -> int:
        n = self._sql.executionsCount()
        if not n:
            return -1
        return _seq(self._sql.executionsList(int(n) - 1, 1))[0].executionId()

    def _new_execs(self) -> list:
        """Executions with an id above the last one seen (the list is
        ordered by id; older entries may have been evicted)."""
        n = int(self._sql.executionsCount())
        want = 16
        while True:
            off = max(0, n - want)
            got = _seq(self._sql.executionsList(off, n - off))
            if off == 0 or not got or got[0].executionId() <= self._last_exec:
                return [e for e in got if e.executionId() > self._last_exec]
            want *= 4

    # -- one interval ----------------------------------------------------
    def delta(self) -> Counters:
        """Counters of everything that ran since the previous call."""
        out = Counters()
        try:
            self._drain()
        except Exception as e:  # noqa: BLE001 - recorded, not swallowed
            out.fail(COUNTERS, f"listener bus drain failed: {e!r}")
            return out
        wrote = self._read_stages(out)
        self._read_jobs(out, wrote)
        self._read_python(out)
        return out

    def _read_stages(self, out: Counters) -> set[int] | None:
        """Sums the task metrics of the new stages; returns the ids of
        stages that wrote output (None when unreadable)."""
        try:
            stages = _newest(self._stages(), "stageId", self._last_stage)
        except Exception as e:  # noqa: BLE001
            out.fail(_STAGE_COUNTERS, f"stageList read failed: {e!r}")
            return None
        wrote = set()
        for s in stages:
            if str(s.status()) not in ("COMPLETE", "FAILED"):
                continue            # SKIPPED / PENDING: no task ran
            out.values["exec.stages"] += 1
            out.values["exec.tasks"] += s.numCompleteTasks()
            for name, field, scale in _STAGE_FIELDS:
                out.values[name] += getattr(s, field)() * scale
            out.values["exec.spill_bytes"] += (s.memoryBytesSpilled()
                                               + s.diskBytesSpilled())
            if s.outputRecords() > 0 or s.outputBytes() > 0:
                wrote.add(s.stageId())
        if stages:
            self._last_stage = max(s.stageId() for s in stages)
        return wrote

    def _read_jobs(self, out: Counters, wrote: set[int] | None) -> None:
        try:
            jobs = _newest(self._jobs(), "jobId", self._last_job)
        except Exception as e:  # noqa: BLE001
            out.fail(_JOB_COUNTERS, f"jobsList read failed: {e!r}")
            return
        if wrote is None:
            out.fail(["exec.jobs.write"], "stage data unreadable")
        spans = []
        for j in jobs:
            out.values["exec.jobs"] += 1
            if wrote is not None and any(
                    sid in wrote for sid in _seq(j.stageIds())):
                out.values["exec.jobs.write"] += 1
            else:
                kind = job_kind(j.name())
                if kind != "other":
                    out.values[f"exec.jobs.{kind}"] += 1
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime(), end.get().getTime()))
        out.values["exec.job_cover_s"] = _covered_ms(spans) / 1e3
        if jobs:
            self._last_job = max(j.jobId() for j in jobs)

    def _read_python(self, out: Counters) -> None:
        try:
            execs = self._new_execs()
        except Exception as e:  # noqa: BLE001
            out.fail(_PY_COUNTERS, f"SQL executions read failed: {e!r}")
            return
        for ex in execs:
            eid = ex.executionId()
            try:
                nodes = _seq(self._sql.planGraph(eid).allNodes())
                values = self._sql.executionMetrics(eid)
            except Exception as e:  # noqa: BLE001
                out.fail(_PY_COUNTERS,
                         f"plan graph of execution {eid} unreadable: {e!r}")
                continue
            for node in nodes:
                metrics = {m.name(): m for m in _seq(node.metrics())}
                if _PY_MARKER not in metrics:
                    continue
                if out.values["py.nodes"] is not None:
                    out.values["py.nodes"] += 1
                for label, name in PY_METRICS.items():
                    m = metrics.get(label)
                    if m is None:
                        out.fail([name], f"{node.name()} lacks {label!r}")
                        continue
                    opt = values.get(m.accumulatorId())
                    if not opt.isDefined():
                        out.fail([name], f"no value for {label!r} in "
                                         f"execution {eid}")
                        continue
                    try:
                        v = parse_sql_metric(opt.get())
                    except ValueError as e:
                        out.fail([name], str(e))
                        continue
                    if out.values[name] is not None:
                        out.values[name] += v
        if execs:
            self._last_exec = max(e.executionId() for e in execs)


def _covered_ms(spans: list[tuple[int, int]]) -> float:
    """Length of the union of ``[start, end]`` millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def plan_ms(df) -> float:
    """Analysis + optimization + planning time recorded by the
    ``QueryPlanningTracker`` of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total
