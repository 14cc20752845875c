"""Streaming CHANGE-DATA-FEED source over the txnlog format (Spark 4
Python DataSource API) — Delta's ``readChangeFeed`` as a stream: each
micro-batch emits the CLASSIFIED per-version diffs (insert / delete /
update_preimage / update_postimage, version-tagged) for the commits in
``(start, end]``, computed from the version-asymmetric file sets and
deletion-vector deltas — never a full table read.  This is the form
the append-only source (txnstream) points rewrites at: merges,
deletes, DV commits, compactions and restores all flow as classified
changes instead of tripping a guard.

Semantics pinned to the batch form (:func:`txnlog.table_changes_range`
— equality certified by the ``str_21`` driver key and in tests):

- one partition per commit version; planning is control-plane (commit
  JSONs only, the same replay txnbatch duplicates);
- each partition ships the version's old/new file lists (with their
  endpoint DV masks) and the DV deltas on membership-stable files
  (dead = newly vectored rows → old side; alive = restore-resurrected
  rows → new side);
- the executor reads only those files through pyarrow, outer-joins the
  two sides on the merge key in pandas, classifies, and SUPPRESSES
  physically-rewritten-but-identical rows (compaction churn is not
  logical change) — cost ∝ that version's churn;
- rows carry ``change_type`` and ``_commit_version``; restart resumes
  from the checkpointed version exactly-once (offsets are versions).

Options: ``path`` (required), ``key`` (required — the merge key the
diff joins on), ``startingVersion`` (default 0: the first emitted diff
is startingVersion → startingVersion+1; the create itself is state,
not change — Delta's CDF default).

Self-contained + pickle-by-value for the same deployment reason as
txnstream.py/txnbatch.py (the planner process cannot import the
package); the duplicated replay's byte-compatibility is pinned in
tests/test_txnlog.py.

Reference analogue: the broker's incremental result forwarding
(/root/reference/src/docker/template.yml:51) upgraded from "new rows
only" to a full classified change protocol.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import StringType, LongType, StructField, StructType

_LOG = "_txnlog"
_W = 20


def _versions(table: str) -> list[int]:
    try:
        names = os.listdir(os.path.join(table, _LOG))
    except FileNotFoundError:
        return []
    return sorted(int(n[:_W]) for n in names
                  if n.endswith(".json") and not n.endswith(".ckpt.json")
                  and not n.startswith("."))


def _replay(table: str, target: int):
    """files{name: {rows, dv}} + schema_json + colmap at ``target`` —
    the same checkpoint-bounded walk txnlog.snapshot does
    (self-contained; see module docstring)."""
    files: dict[str, dict] = {}
    schema_json = None
    colmap = None
    start = 0
    log = os.path.join(table, _LOG)
    for v in sorted((int(n[:_W]) for n in os.listdir(log)
                     if n.endswith(".ckpt.json")), reverse=True):
        if v <= target:
            with open(os.path.join(log, f"{v:0{_W}d}.ckpt.json")) as f:
                ck = json.load(f)
            files = {n: dict(s) for n, s in ck["files"].items()}
            schema_json = ck.get("schema")
            colmap = ck.get("colmap")
            start = v + 1
            break
    for v in _versions(table):
        if v < start or v > target:
            continue
        with open(os.path.join(log, f"{v:0{_W}d}.json")) as f:
            c = json.load(f)
        for name in c.get("remove", []):
            files.pop(name, None)
        for a in c.get("add", []):
            files[a["file"]] = {"rows": a["rows"]}
        for d in c.get("dv", []):
            files[d["file"]]["dv"] = d["ranges"]
        schema_json = c.get("schema", schema_json)
        if "colmap" in c:
            colmap = c["colmap"]
    return files, schema_json, colmap


def _sub_ranges(a: list, b: list) -> list[list[int]]:
    """ranges in a not covered by b (txnlog._ranges_subtract, duplicated
    for self-containment; byte-compat pinned in tests): one two-pointer
    sweep over a and the normalized b."""
    out: list[list[int]] = []
    bs: list[list[int]] = []
    for t, u in sorted(b):
        if bs and t <= bs[-1][1] + 1:
            bs[-1][1] = max(bs[-1][1], u)
        else:
            bs.append([t, u])
    j = 0
    for s, e in sorted(a):
        while j < len(bs) and bs[j][1] < s:
            j += 1
        cur, i = s, j
        while i < len(bs) and bs[i][0] <= e:
            if bs[i][0] > cur:
                out.append([cur, bs[i][0] - 1])
            cur = bs[i][1] + 1
            i += 1
        if cur <= e:
            out.append([cur, e])
    return out


class _VersionDiffPartition(InputPartition):
    def __init__(self, table: str, version: int, key: str,
                 schema_json: str, old_files: list, new_files: list,
                 dv_dead: list, dv_alive: list,
                 colmap: dict | None = None):
        self.table = table
        self.version = version
        self.key = key
        self.schema_json = schema_json
        # [(name, keep_ranges | None, mask_ranges | None), ...]
        self.old_files = old_files
        self.new_files = new_files
        self.dv_dead = dv_dead      # [(name, ranges)] -> old side
        self.dv_alive = dv_alive    # [(name, ranges)] -> new side
        # logical → physical names at this version (r13 column
        # mapping; physical names are rename-stable, so one map
        # serves both sides of the diff)
        self.colmap = colmap


def _nullable(schema_json: str) -> str:
    d = json.loads(schema_json)
    for f in d.get("fields", []):
        f["nullable"] = True
    return json.dumps(d)


class TxnlogCdcStreamReader(DataSourceStreamReader):
    def __init__(self, table: str, key: str, starting_version: int):
        self._table = table
        self._key = key
        self._start = starting_version

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        vs = _versions(self._table)
        if not vs:
            raise FileNotFoundError(f"no txnlog table at {self._table}")
        return {"version": vs[-1]}

    def partitions(self, start: dict, end: dict):
        import json as _json
        import os as _os

        from . import txnlog as _t
        parts = []
        for v in range(start["version"] + 1, end["version"] + 1):
            try:
                with open(_os.path.join(_t._log_dir(self._table),
                                        _t._commit_name(v))) as cf:
                    if _json.load(cf).get("data_change") is False:
                        # compact/OPTIMIZE (or a synced foreign
                        # no-data commit): rows declared identical —
                        # the change feed emits NOTHING for it (batch
                        # table_changes_range skips the same way)
                        continue
            except FileNotFoundError:
                pass        # truncated: _replay raises its own error
            f0, s0, cm0 = _replay(self._table, v - 1)
            f1, s1, cm1 = _replay(self._table, v)
            schema_json = _nullable(s1 or s0)
            colmap = cm1 if s1 is not None else cm0
            old_files = [(n, None, f0[n].get("dv"))
                         for n in sorted(f0) if n not in f1]
            new_files = [(n, None, f1[n].get("dv"))
                         for n in sorted(f1) if n not in f0]
            dv_dead, dv_alive = [], []
            for n in sorted(f1):
                if n not in f0:
                    continue
                d0 = f0[n].get("dv") or []
                d1 = f1[n].get("dv") or []
                if d1 == d0:
                    continue
                dead = _sub_ranges(d1, d0)
                if dead:
                    dv_dead.append((n, dead))
                alive = _sub_ranges(d0, d1)
                if alive:
                    dv_alive.append((n, alive))
            if old_files or new_files or dv_dead or dv_alive:
                parts.append(_VersionDiffPartition(
                    self._table, v, self._key, schema_json,
                    old_files, new_files, dv_dead, dv_alive, colmap))
        return parts

    def read(self, partition: _VersionDiffPartition):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType as _ST

        target = to_arrow_schema(_ST.fromJson(
            json.loads(partition.schema_json)))

        cm = getattr(partition, "colmap", None) or {}

        def load(name, keep_ranges, mask_ranges):
            t = pq.read_table(os.path.join(partition.table, name))
            # r14 partitioned tables: partition values are encoded in
            # the file's RELATIVE directory components (hive layout)
            from urllib.parse import unquote
            pv = {}
            for comp in os.path.dirname(name).split(os.sep):
                if "=" in comp:
                    c, _, raw = comp.partition("=")
                    pv[c] = (None if raw == "__HIVE_DEFAULT_PARTITION__"
                             else unquote(raw))
            cols = []
            for field in target:
                phys = cm.get(field.name, field.name)
                if phys in t.column_names:
                    cols.append(t.column(phys).cast(field.type))
                elif phys in pv:
                    raw = pv[phys]
                    cols.append(
                        pa.nulls(t.num_rows, field.type) if raw is None
                        else pa.array([raw] * t.num_rows)
                        .cast(field.type))
                else:
                    cols.append(pa.nulls(t.num_rows, field.type))
            t = pa.table(dict(zip(target.names, cols)), schema=target)
            if keep_ranges is not None:
                m = np.zeros(t.num_rows, dtype=bool)
                for s, e in keep_ranges:
                    m[s:e + 1] = True
                t = t.filter(pa.array(m))
            elif mask_ranges:
                m = np.ones(t.num_rows, dtype=bool)
                for s, e in mask_ranges:
                    m[s:e + 1] = False
                t = t.filter(pa.array(m))
            return t

        def side(files, keeps):
            tabs = [load(n, None, mask) for n, _, mask in files]
            tabs += [load(n, ranges, None) for n, ranges in keeps]
            if not tabs:
                return pa.table(
                    {f.name: pa.nulls(0, f.type) for f in target},
                    schema=target).to_pandas()
            return pa.concat_tables(tabs).to_pandas()

        old = side(partition.old_files, partition.dv_dead)
        new = side(partition.new_files, partition.dv_alive)
        k = partition.key
        cols = [f.name for f in target]
        j = old.merge(new, on=k, how="outer", suffixes=("_o", "_n"),
                      indicator=True)
        data_cols = [c for c in cols if c != k]

        def rows(frame, src, ctype):
            out = frame[[k] + [f"{c}{src}" for c in data_cols]].copy()
            out.columns = [k] + data_cols
            out["change_type"] = ctype
            return out[cols + ["change_type"]]

        ins = rows(j[j["_merge"] == "right_only"], "_n", "insert")
        del_ = rows(j[j["_merge"] == "left_only"], "_o", "delete")
        both = j[j["_merge"] == "both"]
        if len(both) and data_cols:
            same = np.ones(len(both), dtype=bool)
            for c in data_cols:
                a, b = both[f"{c}_o"], both[f"{c}_n"]
                same &= ((a == b) | (a.isna() & b.isna())).to_numpy()
            changed = both[~same]
        else:
            changed = both.iloc[0:0]
        pre = rows(changed, "_o", "update_preimage")
        post = rows(changed, "_n", "update_postimage")
        out = pd.concat([ins, del_, pre, post], ignore_index=True)
        out["_commit_version"] = np.int64(partition.version)
        result = pa.Table.from_pandas(
            out, schema=target.append(
                pa.field("change_type", pa.string(), False)).append(
                pa.field("_commit_version", pa.int64(), False)),
            preserve_index=False)
        yield from result.to_batches()

    def commit(self, end: dict) -> None:
        pass


class TxnlogCdcDataSource(DataSource):
    """``spark.readStream.format("txnlog_cdc").option("path", p)
    .option("key", k)[.option("startingVersion", n)]`` — register with
    ``spark.dataSource.register(TxnlogCdcDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "txnlog_cdc"

    def schema(self) -> StructType:
        vs = _versions(self.options["path"])
        if not vs:
            raise FileNotFoundError(
                f"no txnlog table at {self.options['path']}")
        _, schema_json, _ = _replay(self.options["path"], vs[-1])
        if schema_json is None:
            raise FileNotFoundError(
                f"txnlog_cdc: no schema recorded in any retained "
                f"commit or checkpoint of {self.options['path']}")
        logged = StructType.fromJson(json.loads(_nullable(schema_json)))
        return StructType(
            list(logged.fields)
            + [StructField("change_type", StringType(), False),
               StructField("_commit_version", LongType(), False)])

    def streamReader(self, schema: StructType) -> TxnlogCdcStreamReader:
        if "key" not in self.options:
            raise ValueError(
                "txnlog_cdc requires option('key', <merge key>) — the "
                "classified diff joins old/new sides on it")
        return TxnlogCdcStreamReader(
            self.options["path"], self.options["key"],
            int(self.options.get("startingVersion", 0)))


def register(spark) -> None:
    # once per session under a lock: DataSourceManager.register
    # REPLACES an existing entry, so re-registering from a pooled
    # worker thread opens a lookup-miss window for queries mid-plan
    # on other threads (see txnbatch.register)
    with _REGISTER_LOCK:
        if spark not in _REGISTERED:
            spark.dataSource.register(TxnlogCdcDataSource)
            _REGISTERED.add(spark)


_REGISTER_LOCK = __import__("threading").Lock()
_REGISTERED = __import__("weakref").WeakSet()


def _register_by_value() -> None:
    import sys
    try:
        from pyspark import cloudpickle
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:                       # pragma: no cover - old API
        pass


_register_by_value()
