"""Streaming tests (SURVEY.md §2.8): replayed micro-batches must equal
the batch results of the same operators (FIXTURES.md §C.3).

Pooled execution (VERDICT r8 item 6 — the suite-time guard): each test
body is an independent availableNow replay, latency-bound on
micro-batch scheduling rather than CPU, so a module fixture runs all
bodies through a thread pool against the shared session — the same
discipline as the t1/t2/sql key sweeps, and safe for the same reasons
(replay progress is THREAD-LOCAL in streamnative since r8, memory-sink
query names are unique per body, every body gets its own pre-created
tmp dir).  Assertion set and per-test failure attribution are
unchanged: each parametrized test re-raises exactly its body's
exception (including Skipped)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import POOL_WORKERS, SF_SMOKE

from docker_aktin_dwh_spark import catalog
from docker_aktin_dwh_spark.operators import relational
from docker_aktin_dwh_spark.streaming import ingest, stateful, windows


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """events split into 5 chronological chunks — the file-arrival replay."""
    d = tmp_path_factory.mktemp("events_stream")
    ev = catalog.load(spark, SF_SMOKE, "events")
    chunked = ev.withColumn(
        "chunk", F.ntile(5).over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.orderBy("ts", "event_id")))
    for i in range(1, 6):
        (chunked.filter(F.col("chunk") == i).drop("chunk")
         .coalesce(1).write.mode("overwrite").parquet(str(d / f"chunk{i}")))
    # flatten: move part files into one watched directory
    import shutil
    watch = d / "watch"
    watch.mkdir()
    for i in range(1, 6):
        for j, p in enumerate(sorted((d / f"chunk{i}").glob("*.parquet"))):
            shutil.copy(p, watch / f"{i:02d}_{j}.parquet")
    return str(watch)


def _run_complete(df, name):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return df.sparkSession.table(name)


def _run_append(df, name):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return df.sparkSession.table(name)


def _run_update(df, name):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    return df.sparkSession.table(name)


# --------------------------------------------------------------- bodies
# Each body is the former test function verbatim; `tmp` replaces the
# old `tmp_path` fixture (pre-created per body by the pooled fixture).

def _body_str01_02_tumbling_equals_batch(spark, stream_dir, tmp):
    src = windows.file_source(spark, stream_dir)
    assert src.isStreaming
    got = _run_complete(windows.tumbling_counts(src), "tumbling")
    streamed = {(r.ws, r.n) for r in got.collect()}
    batch = {(r.ws, r.n) for r in
             relational.str_02(spark, SF_SMOKE).collect()}
    assert streamed == batch


def _body_str03_sliding_equals_batch(spark, stream_dir, tmp):
    src = windows.file_source(spark, stream_dir)
    got = _run_complete(windows.sliding_counts(src), "sliding")
    streamed = {(r.ws, r.n) for r in got.collect()}
    batch = {(r.ws, r.n) for r in
             relational.str_03(spark, SF_SMOKE).collect()}
    assert streamed == batch


def _body_str04_session_equals_batch(spark, stream_dir, tmp):
    src = windows.file_source(spark, stream_dir)
    got = _run_complete(windows.session_counts(src), "sessions")
    streamed = {(r.user_id, r.sess_start.replace(microsecond=0), r.n_events)
                for r in got.collect()}
    batch = {(r.user_id, r.sess_start, r.n_events)
             for r in relational.str_04(spark, SF_SMOKE).collect()}
    assert streamed == batch


def _body_str05_06_dedup_within_watermark(spark, stream_dir, tmp):
    # duplicate the stream directory content → every event arrives twice
    import shutil
    dup = tmp / "dup"
    dup.mkdir()
    from pathlib import Path
    for p in Path(stream_dir).glob("*.parquet"):
        shutil.copy(p, dup / p.name)
        shutil.copy(p, dup / f"again_{p.name}")
    src = windows.file_source(spark, str(dup))
    got = _run_append(windows.dedup_stream(src), "dedup")
    n_unique = catalog.load(spark, SF_SMOKE, "events").count()
    assert got.count() == n_unique


def _body_str08_stream_static_join(spark, stream_dir, tmp):
    dim = spark.createDataFrame(
        [("click", "interaction"), ("view", "interaction"),
         ("purchase", "conversion"), ("signup", "conversion"),
         ("error", "fault")], ["event_type", "concept_class"])
    src = windows.file_source(spark, stream_dir)
    got = _run_append(windows.enrich_with_dim(src, dim), "enriched")
    assert got.filter(F.col("concept_class").isNull()).count() == 0
    assert got.count() == catalog.load(spark, SF_SMOKE, "events").count()


def _body_str07_stateful_state_machine(spark, stream_dir, tmp):
    src = windows.file_source(spark, stream_dir)
    got = _run_update(stateful.encounter_state_machine(src), "visits")
    rows = got.collect()
    assert rows, "state machine emitted nothing"
    ev = catalog.load(spark, SF_SMOKE, "events")
    purchasers = {r.user_id for r in
                  ev.filter(F.col("event_type") == "purchase")
                    .select("user_id").distinct().collect()}
    closed_users = {r.user_id for r in rows if r.closed}
    assert purchasers <= closed_users
    # for never-purchasers the visit never closes and never resets, so
    # the streamed final state must equal the batch rollup (str_07);
    # purchasers re-open a fresh visit after each close, so their
    # streamed counts are per-visit, not lifetime
    final = {}
    for r in rows:   # memory sink preserves batch emission order
        final[r.user_id] = (r.n_events, r.closed)
    batch = {r.user_id: (r.n_events, r.closed)
             for r in relational.str_07(spark, SF_SMOKE).collect()}
    for uid, (n, closed) in batch.items():
        if not closed:
            assert final[uid] == (n, False), uid


def _body_str07_transform_with_state_matches_legacy(spark, stream_dir, tmp):
    """The Spark 4 transformWithStateInPandas form of the state machine
    agrees with the applyInPandasWithState form on final states."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("transformWithStateInPandas needs google.protobuf, "
                    "absent in this container (no pip installs)")
    src = windows.file_source(spark, stream_dir)
    got = _run_update(stateful.encounter_state_machine_tws(src), "visits_tws")
    final = {}
    for r in got.collect():
        final[r.user_id] = (r.n_events, r.closed)
    batch = {r.user_id: (r.n_events, r.closed)
             for r in relational.str_07(spark, SF_SMOKE).collect()}
    for uid, (n, closed) in batch.items():
        if not closed:
            assert final[uid] == (n, False), uid
    purchasers = {u for u, (_, closed) in batch.items() if closed}
    closed_users = {u for u, (_, c) in final.items() if c}
    assert purchasers <= closed_users


def _body_str09_stream_merge_idempotent(spark, stream_dir, tmp):
    """Same files replayed through a fresh checkpoint → same table state."""
    fact = catalog.observation_fact(spark, SF_SMOKE) \
        .filter(F.col("encounter_num") < 50)
    src_dir = tmp / "facts_in"
    src_dir.mkdir()
    fact.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b1"))
    import shutil
    from pathlib import Path
    watch = tmp / "watch"
    watch.mkdir()
    for p in Path(src_dir).rglob("*.parquet"):
        shutil.copy(p, watch / p.name)

    stream = (spark.readStream.schema(fact.schema).parquet(str(watch)))
    table = str(tmp / "table")
    q = ingest.stream_merge_to_table(stream, table, str(tmp / "ckpt1"))
    q.awaitTermination()
    from docker_aktin_dwh_spark.sources import upsert as _ups
    assert _ups.is_txnlog_store(table), "ingest must default to txnlog"
    n1 = _ups.read_store(spark, table).count()
    # replay everything again (fresh checkpoint = full re-delivery)
    stream2 = (spark.readStream.schema(fact.schema).parquet(str(watch)))
    q2 = ingest.stream_merge_to_table(stream2, table, str(tmp / "ckpt2"))
    q2.awaitTermination()
    n2 = _ups.read_store(spark, table).count()
    assert n1 == n2 == fact.count()


def _body_str05_within_watermark_disorder_is_exact(spark, stream_dir, tmp):
    """STR-05: out-of-order arrival WITHIN the watermark never loses
    rows — windowed counts stay exact when every hour's rows are split
    across two files that arrive in separate triggers.  (The converse —
    dropping data later than the watermark — is explicitly best-effort
    in Spark: measured on 4.1, below-watermark rows for windows with no
    retained state are still admitted, so we assert the guarantee, not
    the heuristic.)"""
    import shutil

    from docker_aktin_dwh_spark.streaming.windows import EVENTS_DDL
    from pyspark.sql.window import Window as W

    ev = catalog.load(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "ts", "props")
    ranked = ev.withColumn(
        "chunk", F.ntile(5).over(W.orderBy("ts", "event_id")))         .withColumn("half", F.pmod("event_id", F.lit(2)))

    d = tmp / "watch"
    d.mkdir()
    for i in range(1, 6):
        for h in (0, 1):
            part = ranked.filter((F.col("chunk") == i) & (F.col("half") == h))                          .drop("chunk", "half")
            out = tmp / f"c{i}h{h}"
            part.coalesce(1).write.mode("overwrite").parquet(str(out))
            for j, pq in enumerate(sorted(out.glob("*.parquet"))):
                shutil.copy(pq, d / f"{i:02d}_{h}_{j}.parquet")

    src = (spark.readStream.format("parquet").schema(EVENTS_DDL)
           .option("maxFilesPerTrigger", 1).load(str(d)))
    # watermark wider than one chunk's time span (~6 days of sparse
    # fixture data), so the cross-half disorder is genuinely within the
    # watermark and the no-loss guarantee applies strictly
    q = (windows.tumbling_counts(src, watermark="10 days")
         .writeStream.format("memory")
         .queryName("disorder").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["ws"]: r["n"] for r in
           spark.table("disorder").groupBy("ws")
                .agg(F.max("n").alias("n")).collect()}
    expect = {r["ws"]: r["n"] for r in
              ev.groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count("*").alias("n"))
                .select(F.col("w.start").alias("ws"), "n").collect()}
    assert got == expect


def _body_dedup_ingest_matches_batch_keepset(spark, stream_dir, tmp):
    """Streaming incremental-dedup ingest: replay the documents table in
    2 doc_id-ordered chunks; the final store must equal the batch
    keep-first dedup of the whole corpus (drop any doc with a >=0.7
    near-dup of smaller doc_id).  Cross-batch chain semantics get their
    own dedicated test below."""
    import shutil

    from conftest import SF_ORACLE
    from docker_aktin_dwh_spark.operators.dedup import minhash_dedup_pairs
    from docker_aktin_dwh_spark.streaming.dedup_ingest import (DOCS_DDL,
                                                               dedup_ingest)

    docs = catalog.load(spark, SF_ORACLE, "documents") \
                  .select("doc_id", "lang", "text")
    n = docs.count()
    watch = tmp / "docs_watch"
    watch.mkdir()
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        part = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        out = tmp / f"chunk{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(out))
        for j, p in enumerate(sorted(out.glob("*.parquet"))):
            shutil.copy(p, watch / f"{i:02d}_{j}.parquet")

    store = str(tmp / "kept")
    src = (spark.readStream.format("parquet").schema(DOCS_DDL)
           .option("maxFilesPerTrigger", 1).load(str(watch)))
    q = dedup_ingest(src, store, str(tmp / "ckpt"))
    q.awaitTermination()

    streamed = sorted(r[0] for r in
                      spark.read.parquet(store).select("doc_id").collect())
    drop = minhash_dedup_pairs(docs, 0.7).select("j").distinct()
    expected = sorted(r[0] for r in
                      docs.join(drop, docs.doc_id == drop.j, "left_anti")
                          .select("doc_id").collect())
    assert streamed == expected
    assert len(streamed) < n  # the corpus really had near-dups to drop


def _body_dedup_ingest_chain_drops_via_dropped_doc(spark, stream_dir, tmp):
    """Keep-first chain parity (the case the fixture replay can miss):
    C's only smaller near-dup is B, and B was itself dropped as a
    near-dup of A.  Batch mode drops both B and C; the streaming ingest
    must too — dropped docs stay in the seen-shingle pairing index even
    though they never reach the survivor store.

    Constructed jaccards (30 tokens, 3-gram shingles): A~B 0.806,
    B~C 0.806, A~C 0.647 — so C pairs ONLY with B at threshold 0.7."""
    from docker_aktin_dwh_spark.streaming.dedup_ingest import (DOCS_DDL,
                                                               dedup_ingest)

    words = [f"w{i}" for i in range(30)]

    def text(subs: dict[int, str]) -> str:
        return " ".join(subs.get(i, w) for i, w in enumerate(words))

    rows = [(0, "en", text({})),
            (1, "en", text({5: "x5"})),
            (2, "en", text({5: "x5", 15: "y15"}))]
    watch = tmp / "watch"
    watch.mkdir()
    for i, row in enumerate(rows):   # one doc per micro-batch
        (spark.createDataFrame([row], DOCS_DDL).coalesce(1)
         .write.mode("overwrite").parquet(str(tmp / f"c{i}")))
        import shutil
        for j, p in enumerate(sorted((tmp / f"c{i}").glob("*.parquet"))):
            shutil.copy(p, watch / f"{i:02d}_{j}.parquet")

    store = str(tmp / "kept")
    src = (spark.readStream.format("parquet").schema(DOCS_DDL)
           .option("maxFilesPerTrigger", 1).load(str(watch)))
    q = dedup_ingest(src, store, str(tmp / "ckpt"))
    q.awaitTermination()
    kept = sorted(r[0] for r in
                  spark.read.parquet(store).select("doc_id").collect())
    assert kept == [0]


def _body_dedup_ingest_replay_is_idempotent(spark, stream_dir, tmp):
    """foreachBatch replay safety: re-running a batch with the same
    batch_id (the failure-between-write-and-commit scenario) must leave
    the survivor store AND the signature index byte-identical — batch
    outputs overwrite their own batch_id partition, and the replayed
    batch's half-committed index rows are excluded from pairing."""
    from docker_aktin_dwh_spark.streaming.dedup_ingest import (DOCS_DDL,
                                                               process_batch)

    words = [f"w{i}" for i in range(30)]

    def text(subs: dict[int, str]) -> str:
        return " ".join(subs.get(i, w) for i, w in enumerate(words))

    b0 = spark.createDataFrame([(0, "en", text({}))], DOCS_DDL)
    b1 = spark.createDataFrame(
        [(1, "en", text({5: "x5"})), (2, "en", text({1: "q1", 9: "q9"}))],
        DOCS_DDL)
    store = str(tmp / "kept")
    index = store + "_minhash_index"

    process_batch(spark, b0, 0, store, index, 0.7)
    process_batch(spark, b1, 1, store, index, 0.7)   # drops doc 1 (dup of 0)
    kept1 = sorted(r[0] for r in
                   spark.read.parquet(store).select("doc_id").collect())
    idx1 = sorted(r[0] for r in
                  spark.read.parquet(index).select("doc_id").collect())
    assert kept1 == [0, 2] and idx1 == [0, 1, 2]

    process_batch(spark, b1, 1, store, index, 0.7)   # REPLAY of batch 1
    kept2 = sorted(r[0] for r in
                   spark.read.parquet(store).select("doc_id").collect())
    idx2 = sorted(r[0] for r in
                  spark.read.parquet(index).select("doc_id").collect())
    assert kept2 == kept1 and idx2 == idx1


def _body_streamnative_no_tempdir_leak(spark, stream_dir, tmp):
    """str_01/str_05 must remove their mkdtemp trees once the returned
    frame is materialized off them (VERDICT r4 item 7): two invocations,
    zero NEW orphan spark_str* dirs, and the frame stays readable after.
    (Set-difference, not equality: other pooled bodies create their own
    transient dirs concurrently.)"""
    import pathlib
    import tempfile

    from docker_aktin_dwh_spark.operators import streamnative

    tmpdir = pathlib.Path(tempfile.gettempdir())

    def orphans():
        return {p.name for p in tmpdir.glob("spark_str0[15]_*")}

    before = orphans()
    out1 = streamnative.str_01(spark, SF_SMOKE)
    n1 = out1.count()          # frame must survive the rmtree
    out5 = streamnative.str_05(spark, SF_SMOKE)
    n5 = out5.count()
    assert n1 > 0 and n5 >= 0
    assert orphans() <= before, "streamnative leaked temp dirs"


def _body_clean_ingest_matches_batch_clean(spark, stream_dir, tmp):
    """Streaming clean ingest (gate -> PII scrub -> exact dedup): replay
    the corpus (plus planted exact dups, one within a batch and one
    across batches) in 2 chunks; the store must equal the batch-mode
    gate+scrub+keep-first-dedup of the same corpus."""
    import shutil

    from conftest import SF_ORACLE
    from docker_aktin_dwh_spark.streaming.clean_ingest import (
        DOCS_DDL, clean_batch, clean_ingest)

    base = catalog.load(spark, SF_ORACLE, "documents") \
                  .select("doc_id", "lang", "text")
    n = base.count()
    # planted exact dups: copy of doc 3 inside chunk 0's id range, and
    # a copy of doc 5 landing in chunk 1 (cross-batch dup)
    dup_in = base.filter(F.col("doc_id") == 3) \
                 .select((F.lit(n) + 10).alias("doc_id"), "lang", "text")
    dup_cross = base.filter(F.col("doc_id") == 5) \
                    .select((F.lit(2 * n) + 10).alias("doc_id"), "lang", "text")
    docs = base.unionByName(dup_in).unionByName(dup_cross)

    watch = tmp / "clean_watch"
    watch.mkdir()
    bounds = [(0, n + 11), (n + 11, 2 * n + 11)]
    for i, (lo, hi) in enumerate(bounds):
        part = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        out = tmp / f"cchunk{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(out))
        for j, p in enumerate(sorted(out.glob("*.parquet"))):
            shutil.copy(p, watch / f"{i:02d}_{j}.parquet")

    store = str(tmp / "clean_store")
    src = (spark.readStream.format("parquet").schema(DOCS_DDL)
           .option("maxFilesPerTrigger", 1).load(str(watch)))
    q = clean_ingest(src, store, str(tmp / "cckpt"))
    q.awaitTermination()

    from docker_aktin_dwh_spark.streaming.clean_ingest import (
        read_clean_store)
    from docker_aktin_dwh_spark.sources.upsert import is_txnlog_store
    assert is_txnlog_store(store), "clean ingest must default to txnlog"
    got = {(r.doc_id, r.text) for r in read_clean_store(spark, store)
           .select("doc_id", "text").collect()}

    cleaned = clean_batch(docs).withColumn("h", F.md5("text"))
    keep = cleaned.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    want = {(r.doc_id, r.text) for r in
            cleaned.join(keep, ["h", "doc_id"], "left_semi")
                   .select("doc_id", "text").collect()}
    assert got == want
    got_ids = {d for d, _ in got}
    assert n + 10 not in got_ids and 2 * n + 10 not in got_ids
    assert len(got) < docs.count()   # the gate really dropped docs too


def _body_clean_ingest_replay_is_idempotent(spark, stream_dir, tmp):
    """Replaying a batch (simulated failure between write and
    checkpoint commit) must not duplicate rows in either store."""
    from docker_aktin_dwh_spark.streaming.clean_ingest import (
        process_batch, read_clean_store)

    docs = catalog.load(spark, SF_SMOKE, "documents") \
                  .select("doc_id", "lang", "text").filter(F.col("doc_id") < 60)
    store = str(tmp / "s")
    hstore = store + "_content_hashes"
    process_batch(spark, docs, 0, store, hstore)
    first = sorted(r.doc_id for r in read_clean_store(spark, store).collect())
    process_batch(spark, docs, 0, store, hstore)      # replay same batch
    again = sorted(r.doc_id for r in read_clean_store(spark, store).collect())
    assert first == again
    hashes = read_clean_store(spark, hstore).select("h").collect()
    assert len(hashes) == len({r.h for r in hashes})

    # legacy plain store keeps the partition-overwrite idempotence
    lstore = str(tmp / "ls")
    lh = lstore + "_content_hashes"
    import os as _os
    _os.makedirs(lstore)                 # pre-existing PLAIN dir
    process_batch(spark, docs, 0, lstore, lh)
    l1 = sorted(r.doc_id for r in read_clean_store(spark, lstore).collect())
    process_batch(spark, docs, 0, lstore, lh)
    l2 = sorted(r.doc_id for r in read_clean_store(spark, lstore).collect())
    assert l1 == l2 == first


def _scd_snapshot(spark, v: int):
    """Deterministic snapshot version v of a small orders dimension:
    keys ≡ v (mod 10) are absent (rotating deletes), keys ≡ 0 (mod 7)
    carry a price bumped by v (updates)."""
    o = (catalog.load(spark, SF_SMOKE, "orders")
         .select("o_orderkey", "o_totalprice", "o_orderstatus")
         .filter(F.col("o_orderkey") < 600))
    return (o.filter(F.col("o_orderkey") % 10 != v)
             .withColumn("o_totalprice",
                         F.when(F.col("o_orderkey") % 7 == 0,
                                F.col("o_totalprice") + v)
                          .otherwise(F.col("o_totalprice"))))


def _hist_set(df):
    return {(r.o_orderkey, round(r.o_totalprice, 2), r.o_orderstatus,
             r.valid_from, r.valid_to) for r in df.collect()}


def _body_scd_ingest_matches_sequential_batch_fold(spark, stream_dir, tmp):
    """Three snapshot versions streamed one file per trigger must fold
    into exactly the history that sequential batch scd2_apply calls
    produce (same stamps, same intervals)."""
    import shutil

    from docker_aktin_dwh_spark.operators.maintenance import scd2_apply
    from docker_aktin_dwh_spark.streaming.scd_ingest import (
        current_history, scd_ingest)

    watch = tmp / "scd_watch"
    watch.mkdir()
    for v in range(3):
        out = tmp / f"snap{v}"
        _scd_snapshot(spark, v).coalesce(1) \
            .write.mode("overwrite").parquet(str(out))
        for j, p in enumerate(sorted(out.glob("*.parquet"))):
            shutil.copy(p, watch / f"{v:02d}_{j}.parquet")

    hist_path = str(tmp / "scd_hist")
    src = (spark.readStream.format("parquet")
           .schema("o_orderkey bigint, o_totalprice double, "
                   "o_orderstatus string")
           .option("maxFilesPerTrigger", 1).load(str(watch)))
    q = scd_ingest(src, hist_path, str(tmp / "scd_ckpt"),
                   ["o_orderkey"], ["o_totalprice", "o_orderstatus"])
    q.awaitTermination()
    got = _hist_set(current_history(spark, hist_path))

    # batch-mode reference fold with the same stamps
    keys, cols = ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    h = (_scd_snapshot(spark, 0).withColumn("valid_from", F.lit("b0000"))
         .withColumn("valid_to", F.lit(None).cast("string")))
    for v in (1, 2):
        closed = h.filter(F.col("valid_to").isNotNull())
        opens = h.filter(F.col("valid_to").isNull()).drop("valid_to")
        h = closed.unionByName(
            scd2_apply(opens, _scd_snapshot(spark, v), keys, cols,
                       f"b{v:04d}"))
    assert got == _hist_set(h) and got


def _body_scd_ingest_replay_of_last_batch_is_idempotent(spark, stream_dir,
                                                        tmp):
    """Recovery semantics: re-running the LAST snapshot's fold (the
    failed-commit replay case) must leave the history byte-identical —
    the previous-version read excludes the replayed batch id."""
    import shutil

    from docker_aktin_dwh_spark.streaming.scd_ingest import (
        current_history, process_snapshot, scd_ingest)

    watch = tmp / "scd_watch2"
    watch.mkdir()
    for v in range(3):
        out = tmp / f"snap2_{v}"
        _scd_snapshot(spark, v).coalesce(1) \
            .write.mode("overwrite").parquet(str(out))
        for j, p in enumerate(sorted(out.glob("*.parquet"))):
            shutil.copy(p, watch / f"{v:02d}_{j}.parquet")
    hist_path = str(tmp / "scd_hist2")
    src = (spark.readStream.format("parquet")
           .schema("o_orderkey bigint, o_totalprice double, "
                   "o_orderstatus string")
           .option("maxFilesPerTrigger", 1).load(str(watch)))
    scd_ingest(src, hist_path, str(tmp / "scd_ckpt2"),
               ["o_orderkey"], ["o_totalprice", "o_orderstatus"]) \
        .awaitTermination()
    before = _hist_set(current_history(spark, hist_path))

    process_snapshot(spark, _scd_snapshot(spark, 2), 2, hist_path,
                     ["o_orderkey"], ["o_totalprice", "o_orderstatus"])
    after = _hist_set(current_history(spark, hist_path))
    assert after == before

    # ADVICE r6: a MID-history replay (re-running batch 1 after
    # batches 0..2 committed) must fold onto version 0 — not read from
    # the future and corrupt the version=1 audit partition.
    hist = spark.read.parquet(hist_path)
    v1_before = _hist_set(
        hist.filter(F.col("version") == 1).drop("version"))
    process_snapshot(spark, _scd_snapshot(spark, 1), 1, hist_path,
                     ["o_orderkey"], ["o_totalprice", "o_orderstatus"])
    hist = spark.read.parquet(hist_path)
    v1_after = _hist_set(
        hist.filter(F.col("version") == 1).drop("version"))
    assert v1_after == v1_before
    assert _hist_set(current_history(spark, hist_path)) == before


def _body_str12_outer_emission_contract(spark, stream_dir, tmp):
    """Pin the outer-join watermark contract str_12's oracle relies on:
    under availableNow Spark runs the final state-flush, so unmatched
    left rows with a closed correlation horizon ARE in the sink, and
    rows still inside the horizon at stream end are NOT (regression
    canary if a Spark upgrade changes the final-batch behavior)."""
    from docker_aktin_dwh_spark.operators.streamnative import str_12

    rows = str_12(spark, SF_SMOKE).collect()
    matched = [r for r in rows if r.b_id is not None]
    unmatched = [r for r in rows if r.b_id is None]
    assert matched and unmatched, "fixture should produce both kinds"

    ev = catalog.load(spark, SF_SMOKE, "events")
    import datetime
    wm = (min(
        ev.filter(F.col("event_type").isin("click", "view"))
          .agg(F.max("ts")).first()[0],
        ev.filter(F.col("event_type").isin("purchase", "signup"))
          .agg(F.max("ts")).first()[0])
        - datetime.timedelta(days=10))
    horizon = datetime.timedelta(hours=2)
    assert all(r.a_ts + horizon < wm for r in unmatched)
    # completeness of the emitted-unmatched set: every eligible left
    # row with no match inside the horizon appears exactly once
    matched_a = {r.a_id for r in matched}
    eligible = {r.event_id for r in
                ev.filter(F.col("event_type").isin("click", "view"))
                  .collect()
                if r.ts + horizon < wm}
    assert {r.a_id for r in unmatched} == eligible - matched_a


def _body_streaming_state_bounded_by_watermark(spark, stream_dir, tmp):
    """The bench streaming lane's state-vs-watermark claims, pinned at
    smoke scale: the sessionizer's peak state is one open session per
    user at most, and both replays actually EVICT state as the
    watermark advances (bounded state is the whole 100 TB streaming
    posture — state tracks the horizon, not the stream length)."""
    from docker_aktin_dwh_spark.operators import streamnative as SN

    SN.str_13(spark, SF_SMOKE).count()
    m13 = SN.state_metrics(SN.last_replay_progress())
    n_users = (catalog.load(spark, SF_SMOKE, "events")
               .select("user_id").distinct().count())
    assert m13["state_rows_max"] <= n_users
    assert m13["state_rows_removed"] > 0, "timer eviction never fired"
    assert m13["micro_batches"] >= 5

    SN.str_11(spark, SF_SMOKE).count()
    m11 = SN.state_metrics(SN.last_replay_progress())
    n_join = (catalog.load(spark, SF_SMOKE, "events")
              .filter(F.col("event_type").isin(
                  "click", "view", "purchase", "signup")).count())
    assert 0 < m11["state_rows_max"] < n_join
    assert m11["state_rows_removed"] > 0, "watermark eviction never fired"


def _body_str16_plants_redeliveries_and_drops_them_all(spark, stream_dir,
                                                       tmp):
    """str_16 non-vacuity: the planted re-delivery set is NONEMPTY at
    smoke scale (a dedup whose stream has no duplicates certifies
    nothing), the committed sink holds exactly the clean event set
    (every re-delivery dropped, nothing lost), and the state store
    actually EVICTED old keys during the replay — the recency window
    of the plant guarantees dedup state was live, the fixture's 30-day
    span guarantees eviction still fires."""
    import datetime

    from docker_aktin_dwh_spark.operators import streamnative as SN

    ev = catalog.load(spark, SF_SMOKE, "events")
    mx = ev.agg(F.max("ts")).first()[0]
    cut = mx - datetime.timedelta(days=SN.STR16_DUP_RECENT_DAYS)
    planted = ev.filter(
        (F.col("ts") >= F.lit(cut))
        & (F.col("event_id") % SN.STR16_DUP_STRIDE == 0)).count()
    assert planted > 0, "no re-deliveries planted at this scale"

    got = SN.str_16(spark, SF_SMOKE)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
    m = SN.state_metrics(SN.last_replay_progress())
    assert m["state_rows_removed"] > 0, "watermark eviction never fired"
    assert m["micro_batches"] >= 5


def _body_str17_sketch_split_invariant_bounded_and_idempotent(
        spark, stream_dir, tmp):
    """str_17's maintained CMS store: (1) BOUNDED — ≤ D·W rows no
    matter the stream length; (2) SPLIT-INVARIANT — a 1-batch fold
    equals the 5-batch fold cell-for-cell (addition commutes, the
    ivm_02 property); (3) IDEMPOTENT — re-invoking the applier with
    an already-applied batch_id leaves the store untouched (the
    foreachBatch at-least-once contract); and (4) the COLLISION arm
    is real at a shrunk W=8: some probe id's estimate strictly
    exceeds its exact count while never undercounting."""
    from docker_aktin_dwh_spark.operators import streamnative as SN

    def counters(n_chunks, w=SN.STR17_W):
        base = str(tmp / f"s17_{n_chunks}_{w}")
        import os
        os.makedirs(base, exist_ok=True)
        try:
            sk = SN.str17_sketch(spark, SF_SMOKE, base,
                                 n_chunks=n_chunks, w=w)
            return {(r.d, r.w): r.c for r in sk.collect()}, base
        except BaseException:
            import shutil
            shutil.rmtree(base, ignore_errors=True)
            raise

    one, base1 = counters(1)
    five, base5 = counters(5)
    assert one == five and one
    assert len(five) <= SN.STR17_D * SN.STR17_W

    # (3) replaying an already-applied batch_id is a no-op
    store = f"{base5}/sketch17"
    applier = SN.make_sketch_applier(store)
    ev = catalog.load(spark, SF_SMOKE, "events")
    applier(ev, 0)          # batch 0 was applied during the replay
    after = {(r.d, r.w): r.c
             for r in spark.read.parquet(store).collect()}
    assert after == five

    # (4) collisions at W=8: est computed from the store the same way
    # str_17 does; overcount present, undercount impossible
    tiny, _ = counters(5, w=8)
    exact = {r.user_id: r.n for r in
             ev.groupBy("user_id").agg(F.count("*").alias("n"))
               .filter(F.col("user_id").isin(*SN.STR17_QUERY_IDS))
               .collect()}
    over = 0
    for uid in SN.STR17_QUERY_IDS:
        # cell index via the same md5-prefix arithmetic, python-side
        import hashlib
        est = min(
            tiny.get((d, int(hashlib.md5(f"{uid}|{d}".encode())
                             .hexdigest()[:6], 16) % 8), 0)
            for d in range(SN.STR17_D))
        ex = exact.get(uid, 0)
        assert est >= ex
        if est > ex:
            over += 1
    assert over > 0, "W=8 never collided — collision arm is vacuous"
    import shutil
    shutil.rmtree(base1, ignore_errors=True)
    shutil.rmtree(base5, ignore_errors=True)


def _body_native_session_window_emissions_subset_of_timer_tracker(
        spark, stream_dir, tmp):
    """Contract pin for the two sessionization forms: str_14 (native
    session_window) emits ONLY watermark-confirmed sessions, while
    str_13 (timer tracker) also emits sessions closed inline by a
    successor — so str_14's committed set must be a subset of
    str_13's, and the difference must be exactly the inline-closed
    sessions still inside the watermark horizon."""
    from conftest import BUILDER_CACHE
    from docker_aktin_dwh_spark.operators import streamnative as SN

    def sessions(key, fn):
        cached = BUILDER_CACHE.get(key)   # both keys are ANSI-swept —
        if cached is not None:            # reuse the replay, don't redo it
            # canonical frames sort columns by name and stringify:
            # (n_events, sess_start, user_id) as str
            return {tuple(r) for r in cached.itertuples(index=False)}
        # fallback mirrors _canon's string rendering so a mixed
        # cached/uncached run still compares like-for-like
        return {(str(r.n_events), str(r.sess_start), str(r.user_id))
                for r in fn(spark, SF_SMOKE).collect()}

    s13 = sessions("str_13", SN.str_13)
    s14 = sessions("str_14", SN.str_14)
    assert s14 and s14 <= s13


def _body_str18_mg_summary_bounded_split_deterministic_and_pruning(
        spark, stream_dir, tmp):
    """str_18's maintained Misra–Gries summary: (1) BOUNDED ≤ K rows;
    (2) the θ-filtered OUTPUT is SPLIT-DETERMINISTIC — a 1-batch fold
    and the 5-batch fold give identical final answers even though the
    intermediate summaries may differ (the MG survival guarantee);
    (3) PRUNING really fires at a shrunk K=8 < the fixture's 15
    users, and the planted heavy users (share ≫ 1/(K+1)) survive it;
    (4) re-applying an already-applied batch_id is a no-op."""
    import os
    import shutil

    from docker_aktin_dwh_spark.operators import streamnative as SN

    def summary(n_chunks, k=SN.STR18_K):
        base = str(tmp / f"s18_{n_chunks}_{k}")
        os.makedirs(base, exist_ok=True)
        try:
            sm = SN.str18_summary(spark, SF_SMOKE, base,
                                  n_chunks=n_chunks, k=k)
            return {r.user_id: r.c for r in sm.collect()}, base
        except BaseException:
            shutil.rmtree(base, ignore_errors=True)
            raise

    ev = SN._str18_stream(
        catalog.load(spark, SF_SMOKE, "events").select(*SN._EV_COLS))
    n_total = ev.count()
    exact = {r.user_id: r.n for r in
             ev.groupBy("user_id").agg(F.count("*").alias("n"))
               .collect()}
    truth = {u: n for u, n in exact.items()
             if n >= SN.STR18_THETA * n_total}
    assert truth, "no heavy users at this scale — vacuous"

    one, base1 = summary(1)
    five, base5 = summary(5)
    assert len(one) <= SN.STR18_K and len(five) <= SN.STR18_K
    # final answers (θ-filtered exact counts of summary candidates)
    ans1 = {u: exact[u] for u in one if exact.get(u, 0)
            >= SN.STR18_THETA * n_total}
    ans5 = {u: exact[u] for u in five if exact.get(u, 0)
            >= SN.STR18_THETA * n_total}
    assert ans1 == ans5 == truth

    # (3) pruning at K=8 < 15 users: summary shrinks, planted survive
    tiny, base8 = summary(5, k=8)
    assert len(tiny) <= 8 < len(exact)
    assert set(SN.STR18_PLANT) <= set(tiny)

    # (4) retried batch is a no-op
    store = f"{base5}/mg18"
    SN.make_mg_applier(store)(ev, 0)
    after = {r.user_id: r.c
             for r in spark.read.parquet(store).collect()}
    assert after == five
    for b in (base1, base5, base8):
        shutil.rmtree(b, ignore_errors=True)


def _body_cdf_stream_across_drop_partition(spark, stream_dir, tmp):
    """r15 (VERDICT r14 item 7): the STREAMING change feed replays a
    ``drop_partition`` commit as that partition's rows emitted as
    deletes EXACTLY ONCE — typed partition values reconstructed from
    the dropped files' hive paths, agreement with batch
    table_changes, and a checkpoint-resumed restart re-emits nothing
    while still delivering commits that land after the drop."""
    import os

    from docker_aktin_dwh_spark.sources import cdcstream, txnlog

    path = str(tmp / "cdp_tbl")

    def frame(lo, hi, tag):
        return (spark.range(lo, hi).coalesce(1).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("int").alias("p"),
            F.concat(F.lit(tag), F.col("id").cast("string"))
             .alias("v")))

    txnlog.create_table(spark, frame(0, 80, "a"), path, key="k",
                        partition_by=["p"])                   # v0
    txnlog.merge(spark, path,
                 frame(0, 8, "m").filter("p = 1"), key="k",
                 partition_filter={"p": 1})                   # v1
    v_pre = txnlog.snapshot(path).version
    txnlog.drop_partition(spark, path, values={"p": 2})       # v2
    v_drop = txnlog.snapshot(path).version

    cdcstream.register(spark)
    ck = str(tmp / "cdp_ck")
    rows: list = []

    def run_stream():
        q = (spark.readStream.format("txnlog_cdc")
             .option("path", path).option("key", "k").load()
             .writeStream.foreachBatch(
                 lambda df, _b: rows.extend(df.collect()))
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_stream()
    dropped_keys = {k for k in range(80) if k % 4 == 2}
    dels = [r for r in rows if r.change_type == "delete"
            and r._commit_version == v_drop]
    assert {r.k for r in dels} == dropped_keys, \
        "the drop's rows must stream as deletes, each exactly once"
    assert len(dels) == len(dropped_keys)
    assert all(r.p == 2 for r in dels), \
        "partition values reconstruct TYPED from the dropped paths"
    # agreement with the batch change feed over the same interval
    tc = txnlog.table_changes(spark, path, v_pre, v_drop,
                              key="k").collect()
    assert {(r.change_type, r.k) for r in tc} \
        == {("delete", k) for k in dropped_keys}
    # exactly-once across restart: a post-drop commit streams, the
    # drop's deletes do NOT re-emit
    n_before = len(rows)
    txnlog.append(spark, frame(900, 905, "z"), path, key="k")  # v3
    run_stream()
    fresh = rows[n_before:]
    assert {r.k for r in fresh} == set(range(900, 905))
    assert all(r.change_type == "insert" for r in fresh)
    assert sum(1 for r in rows if r.change_type == "delete") \
        == len(dropped_keys), "drop deletes emitted exactly once"
    assert os.path.isdir(ck)


# ------------------------------------------------------------ pooled run

BODIES = {
    name[len("_body_"):]: fn
    for name, fn in sorted(globals().items())
    if name.startswith("_body_")
}


@pytest.fixture(scope="module")
def outcomes(spark, stream_dir, request, tmp_path_factory):
    """Run every (collected) body through a thread pool; store its
    exception — None for pass, Skipped included — keyed by body name.
    tmp dirs are pre-created serially (tmp_path_factory is not
    documented thread-safe)."""
    from concurrent.futures import ThreadPoolExecutor

    selected: set[str] = set()
    for item in request.session.items:
        if getattr(item, "module", None) is not request.module:
            continue
        cs = getattr(item, "callspec", None)
        if cs is not None and "name" in cs.params:
            selected.add(cs.params["name"])
    todo = [n for n in BODIES if n in selected] if selected \
        else list(BODIES)
    tmps = {n: tmp_path_factory.mktemp(f"stream_{n}"[:40]) for n in todo}

    def run(name):
        try:
            BODIES[name](spark, stream_dir, tmps[name])
            return None
        except BaseException as e:      # re-raised by the test
            return e

    with ThreadPoolExecutor(max_workers=min(12, POOL_WORKERS)) as ex:
        return dict(zip(todo, ex.map(run, todo)))


@pytest.mark.parametrize("name", list(BODIES))
def test_streaming(outcomes, name):
    err = outcomes[name]
    if err is not None:
        raise err
