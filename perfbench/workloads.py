"""Seeded operation plans for the three workloads, and the pandas model
the txn workload is checked against.

Everything here is pure Python/NumPy: the benchmark's ``--seed`` decides
the key order of every cycle and every generated txn batch, and the
engine receives only the frames built from these plans.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: clinical OLAP: i2b2-shaped star joins, the cohort panel, the ontology
#: rollup, the EAV pivot, windows and aggregates (operators/relational.py
#: and operators/cohort.py; no Python UDFs)
CLINICAL_KEYS = ("jn_03", "jn_08", "agg_02", "win_01", "coh_01", "ont_01",
                 "eav_01")

#: corpus curation: SemDeDup, exact top-k ANN, the PNG codec, the text
#: quality scan and BM25 (dedup.py, similarity.py, textops.py,
#: multimodal.py): Arrow/pandas UDFs, barrier jobs and wide shuffles.
#: ded_minhash is left out: its DuckDB oracle (all-pairs exact Jaccard)
#: runs for more than seven minutes at sf0.1, too long to check a run.
CORPUS_KEYS = ("sdd_01", "ann_topk", "mm_png", "text_quality", "bm25_01")

#: txn churn table: sf0.1 ``orders`` keyed on o_orderkey in range files
TXN_KEY = "o_orderkey"
TXN_FILES = 8
TXN_KEY_SPACE = 160_000          # merges may insert keys up to here
MERGE_ROWS = 500
APPLY_UPSERTS = 250
APPLY_DELETES = 150
RANGE_WIDTH = 1_000
COMPACT_EVERY = 4                # timed cycles 4, 8, 12, ... compact

_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])


def cycle_order(keys: tuple[str, ...], seed: int, cycle: int) -> list[str]:
    """The order in which cycle ``cycle`` runs ``keys``."""
    rng = np.random.default_rng([seed, cycle, 1])
    return [keys[i] for i in rng.permutation(len(keys))]


def _rows(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame({
        "o_orderkey": keys.astype("int64"),
        "o_custkey": rng.integers(0, 15_000, n).astype("int64"),
        "o_orderstatus": rng.choice(_STATUS, n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
        "o_orderdate": (np.datetime64("1995-01-01", "us")
                        + rng.integers(0, 2405, n).astype("timedelta64[D]")),
        "o_orderpriority": rng.choice(_PRIORITY, n)})


def txn_cycle(seed: int, cycle: int) -> dict:
    """The generated inputs of txn cycle ``cycle``: the merge batch, the
    mixed change feed (column ``op`` = upsert/delete), the lower bound
    of the filtered read's key range, and whether the cycle compacts
    (at its end): every 4th timed cycle, so changes pile up over three
    cycles before each compaction, and the warm-up cycle 0, so the
    timed compaction is not the session's first."""
    rng = np.random.default_rng([seed, cycle, 2])
    mkeys = rng.choice(TXN_KEY_SPACE, MERGE_ROWS, replace=False)
    akeys = rng.choice(TXN_KEY_SPACE, APPLY_UPSERTS + APPLY_DELETES,
                       replace=False)
    feed = _rows(rng, akeys)
    feed["op"] = np.where(np.arange(len(akeys)) < APPLY_UPSERTS,
                          "upsert", "delete")
    return {"merge": _rows(rng, mkeys),
            "feed": feed,
            "range_lo": int(rng.integers(0, TXN_KEY_SPACE - RANGE_WIDTH)),
            "compact": cycle % COMPACT_EVERY == 0}


class TxnModel:
    """The txn table as pandas, one frame per committed version."""

    def __init__(self, base: pd.DataFrame) -> None:
        self.versions = {0: base.set_index(TXN_KEY).sort_index()}
        self.version = 0

    def _commit(self, frame: pd.DataFrame) -> None:
        self.version += 1
        self.versions[self.version] = frame
        for v in [v for v in self.versions if v < self.version - 3]:
            del self.versions[v]

    def merge(self, batch: pd.DataFrame) -> None:
        cur = self.versions[self.version]
        upd = batch.set_index(TXN_KEY)
        self._commit(pd.concat([cur.drop(upd.index, errors="ignore"), upd])
                     .sort_index())

    def apply_changes(self, feed: pd.DataFrame) -> None:
        cur = self.versions[self.version]
        ups = feed[feed.op != "delete"].drop(columns="op").set_index(TXN_KEY)
        gone = feed.loc[feed.op == "delete", TXN_KEY]
        self._commit(pd.concat([cur.drop(ups.index.union(gone),
                                         errors="ignore"), ups])
                     .sort_index())

    def compact(self) -> None:
        self._commit(self.versions[self.version])

    def count(self, version: int | None = None) -> int:
        return len(self.versions[self.version if version is None
                                 else version])

    def range_count(self, lo: int, hi: int) -> int:
        idx = self.versions[self.version].index
        return int(((idx >= lo) & (idx < hi)).sum())

    def total_price(self) -> float:
        return float(self.versions[self.version]["o_totalprice"].sum())

    def change_rows(self, v_from: int, v_to: int) -> int:
        """Rows of the endpoint change feed between two versions:
        inserts + deletes + a pre- and post-image per changed key."""
        a, b = self.versions[v_from], self.versions[v_to]
        common = a.index.intersection(b.index)
        changed = (a.loc[common] != b.loc[common][a.columns]).any(axis=1)
        return (len(b.index.difference(a.index))
                + len(a.index.difference(b.index))
                + 2 * int(changed.sum()))

    def frame(self) -> pd.DataFrame:
        return self.versions[self.version].reset_index()
