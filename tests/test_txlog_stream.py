"""Streaming change-data-feed source (sources/txlog_stream.py): each
micro-batch is exactly read_changes((committed, latest]); version offsets
make restarts resume at the commit boundary with no replay and no loss."""

from __future__ import annotations

from collections import Counter
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from meteomatics_e2e_data_pipeline_spark.operators.txlog import TxTable
from meteomatics_e2e_data_pipeline_spark.sources.txlog_stream import (
    TxLogCdcStreamReader,
    register,
)


def _kv(spark, lo, hi, mul=2):
    return (spark.range(lo, hi)
            .selectExpr("id as k", f"id*{mul} as v").coalesce(1))


def _ms(df):
    return Counter((r["k"], r["v"], r["_change_type"]) for r in df.collect())


def _reader_rows(r, parts):
    # read() yields Arrow RecordBatches; flatten to row tuples
    return [tuple(row.values()) for pt in parts
            for b in r.read(pt) for row in b.to_pylist()]


def _heavy_test_stream_cdc_batches_follow_commits_exactly_once(spark, tmp_path):
    register(spark)
    p = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    t = TxTable.create(spark, _kv(spark, 0, 40), p, stat_cols=["k"])   # v0
    t.append(_kv(spark, 40, 50))                                       # v1
    t.merge_upsert(_kv(spark, 35, 45, mul=9), ["k"], update=True)      # v2

    def run():
        q = (spark.readStream.format("txlog_cdc").option("path", p)
             .option("startingVersion", 0).load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).outputMode("append").start())
        q.awaitTermination()

    run()
    got = spark.read.parquet(out)
    want = t.read_changes(0)
    assert _ms(got) == _ms(want)
    # fold invariant against the live snapshot
    ins = Counter((k, v) for k, v, c in _ms(got) if c == "insert")
    dels = Counter((k, v) for k, v, c in _ms(got) if c == "delete")
    base = Counter((r["k"], r["v"]) for r in t.read(version=0).collect())
    now = Counter((r["k"], r["v"]) for r in t.read().collect())
    assert base + ins - dels == now

    # more commits, restart from the checkpoint: ONLY the new versions
    t.merge_upsert(_kv(spark, 100, 110, mul=7), ["k"])                 # v3
    run()
    got2 = spark.read.parquet(out)
    assert _ms(got2) == _ms(t.read_changes(0))   # no dupes, no loss
    assert (_ms(got2) - _ms(got)) == _ms(t.read_changes(2, 3))

    # restart with NO new commits is a clean no-op
    run()
    assert _ms(spark.read.parquet(out)) == _ms(got2)


def test_stream_cdc_reader_unit_contract(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])
    t.append(_kv(spark, 10, 20))
    r = TxLogCdcStreamReader(None, {"path": p})
    assert r.initialOffset() == {"version": 0}
    assert r.latestOffset() == {"version": 1}
    parts = r.partitions({"version": 0}, {"version": 1})
    assert parts and all(pt.change_type == "insert" for pt in parts)
    rows = _reader_rows(r, parts)
    assert sorted(rows) == [(k, 2 * k, "insert") for k in range(10, 20)]
    assert r.partitions({"version": 1}, {"version": 1}) == []
    with pytest.raises(ValueError, match="out of range"):
        TxLogCdcStreamReader(None, {"path": p, "startingVersion": "9"})
    with pytest.raises(ValueError, match="not a txlog table"):
        TxLogCdcStreamReader(None, {"path": str(tmp_path / "nope")})


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _doc(pfx, tweak=None):
    toks = [f"{pfx}{i}" for i in range(10)]
    if tweak is not None:
        toks[tweak[0]] = tweak[1]
    return " ".join(toks)


_DOC_SCHEMA = "doc_id long, text string"


def _heavy_test_cdc_feeds_incremental_near_dup_maintenance(spark, tmp_path):
    """A txlog documents table's commits flow through the ``txlog_cdc``
    feed into the near-dup maintenance loop
    (streaming.stream_cdc_near_dup_maintenance): after an append, a
    text-UPDATING merge (delete+insert of the same key in CDC terms), a
    keyed DELETE, a relay run after one more append, and a run with no
    new commits, the maintained (corpus, pairs, clusters) index is
    multiset-EQUAL to a from-scratch batch recompute over the live
    snapshot. Each run resumes from the stream checkpoint and folds only
    the new window; the no-op run publishes no state commit."""
    from meteomatics_e2e_data_pipeline_spark.operators import neardup
    from meteomatics_e2e_data_pipeline_spark.streaming import (
        stream_cdc_near_dup_maintenance,
    )

    docs0 = spark.createDataFrame(
        [(1, _doc("a")), (2, _doc("a", (9, "zz"))), (3, _doc("b")),
         (4, _doc("b", (9, "yy"))), (5, _doc("c"))], _DOC_SCHEMA)
    p = str(tmp_path / "docs")
    t = TxTable.create(spark, docs0.coalesce(2), p,            # v0
                       stat_cols=["doc_id"])
    ck, sp = str(tmp_path / "ck"), str(tmp_path / "state")

    def run_equals_batch():
        state = stream_cdc_near_dup_maintenance(spark, p, ck, sp)
        pairs = neardup.near_dup_pairs(t.read())
        assert _rows(state["pairs"]) == _rows(pairs)
        assert _rows(state["clusters"]) == _rows(neardup.dup_clusters(pairs))
        assert _rows(state["corpus"]) == _rows(t.read())
        return {(a, b) for a, b, _ in _rows(state["pairs"])}

    assert run_equals_batch() == {(1, 2), (3, 4)}   # bootstrap only
    t.append(spark.createDataFrame(                            # v1
        [(6, _doc("a", (0, "qq"))), (7, _doc("d"))], _DOC_SCHEMA))
    run_equals_batch()
    t.merge_upsert(spark.createDataFrame(                      # v2: doc 4
        [(4, _doc("d", (9, "ww")))], _DOC_SCHEMA), ["doc_id"],  # leaves the
        update=True)                                           # b-cluster
    run_equals_batch()
    t.delete(spark.createDataFrame([(2,)], "doc_id long"),     # v3: vertex
             ["doc_id"])                                       # deletion
    assert run_equals_batch() == {(1, 6), (4, 7)}

    # relay: one more commit, resume from the checkpoint, fold only the
    # new window
    t.append(spark.createDataFrame(                            # v4
        [(8, _doc("b", (0, "rr")))], _DOC_SCHEMA))
    assert run_equals_batch() == {(1, 6), (4, 7), (3, 8)}

    # a run with NO new commits is a clean no-op: no state commit
    v = TxTable(spark, sp).version
    assert run_equals_batch() == {(1, 6), (4, 7), (3, 8)}
    assert TxTable(spark, sp).version == v


def _heavy_test_txtable_delete_copy_on_write_and_cdc_nets_exact_rows(
        spark, tmp_path):
    """TxTable.delete: keyed copy-on-write removal — only files holding a
    matching key are rewritten (stat-pruned), non-matching keys are a
    committed no-op-free pass, and the CDC window nets to exactly the
    deleted rows. Conflicts with a concurrent overlapping insert."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 16), p, stat_cols=["k"])  # f0
    t.append(_kv(spark, 16, 32))                                      # f1
    v_before = t.version
    files_before = set(t.live_files())

    t.delete(spark.createDataFrame([(3,), (5,)], "k long"), ["k"])
    assert t.version == v_before + 1
    got = Counter((r["k"], r["v"]) for r in t.read().collect())
    assert got == Counter({(k, 2 * k): 1 for k in range(32) if k not in
                           (3, 5)})
    # only the 0..15 file was rewritten; the 16..31 file survived
    assert len(set(t.live_files()) & files_before) == 1
    # CDC nets to exactly the deleted rows
    ch = t.read_changes(v_before)
    ins = Counter((r["k"], r["v"]) for r in
                  ch.filter(F.col("_change_type") == "insert").collect())
    dels = Counter((r["k"], r["v"]) for r in
                   ch.filter(F.col("_change_type") == "delete").collect())
    assert dels - ins == Counter({(3, 6): 1, (5, 10): 1})
    assert ins - dels == Counter()

    # keys that match nothing: no commit at all
    v = t.version
    t.delete(spark.createDataFrame([(999,)], "k long"), ["k"])
    assert t.version == v

    # deleting EVERY row of a file removes it without staging a rewrite
    t.delete(spark.range(16, 32).selectExpr("id as k"), ["k"])
    assert Counter(r["k"] for r in t.read().collect()) == Counter(
        k for k in range(16) if k not in (3, 5))


def _heavy_test_cdc_max_versions_per_trigger_bounds_batches(spark, tmp_path):
    """maxVersionsPerTrigger: the engine-call sequence yields bounded
    offset windows (floor + cap), the floor ratchets monotonically and
    can never regress below a committed offset, a restarted reader's
    one recovery batch is unbounded by documented design, and the
    option validates. Then the real engine path: a processingTime
    stream with cap=1 consumes a 3-commit backlog as ≥3 micro-batches
    that together equal read_changes exactly once."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])  # v0
    for i in range(4):                                        # v1..v4
        t.append(_kv(spark, 10 + 10 * i, 20 + 10 * i))

    r = TxLogCdcStreamReader(None, {"path": p, "maxVersionsPerTrigger": "2"})
    # the engine asks latestOffset BEFORE initialOffset (observed call
    # order, pinned here): the floor seeds from startingVersion
    assert r.latestOffset() == {"version": 2}          # start + cap
    assert r.initialOffset() == {"version": 0}
    assert len(r.partitions({"version": 0}, {"version": 2})) == 2
    r.commit({"version": 2})
    assert r.latestOffset() == {"version": 4}          # 2 + cap
    r.partitions({"version": 2}, {"version": 4})
    assert r.latestOffset() == {"version": 4}          # caught up: min()

    # restart: the engine's FIRST reader call is partitions() over the
    # checkpoint-restored offset range (pinned empirically — it happens
    # even when that batch fully committed), so the floor is learned
    # from the true committed offset before the limiter ever answers
    r2 = TxLogCdcStreamReader(None, {"path": p, "maxVersionsPerTrigger": "2"})
    r2.partitions({"version": 3}, {"version": 4})
    assert r2.latestOffset() == {"version": 4}         # floor=4, no regress

    with pytest.raises(ValueError, match="maxVersionsPerTrigger"):
        TxLogCdcStreamReader(None, {"path": p,
                                    "maxVersionsPerTrigger": "-1"})

    # engine e2e: cap=1 over a fresh 3-commit backlog -> >= 3 batches,
    # union exactly read_changes(0)
    register(spark)
    out: dict[int, Counter] = {}

    def sink(df, batch_id):
        rows = _ms(df)
        if rows:
            out[batch_id] = rows

    q = (spark.readStream.format("txlog_cdc").option("path", p)
         .option("startingVersion", 0)
         .option("maxVersionsPerTrigger", 1).load()
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="0 seconds").start())
    import time
    deadline = time.time() + 120
    want = _ms(t.read_changes(0))
    got = Counter()
    while time.time() < deadline:
        got = sum(out.values(), Counter())
        if got == want:
            break
        time.sleep(0.5)
    q.stop()
    assert got == want, "bounded batches must union to the full feed"
    assert len(out) >= 4  # v1..v4 delivered as (at least) 4 capped batches
    # each non-empty batch carries exactly ONE commit's worth of rows
    per_commit = [_ms(t.read_changes(v, v + 1)) for v in range(0, 4)]
    for rows in out.values():
        assert rows in per_commit


def _msx(df):
    return Counter(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                   for r in df.collect())


def _near_dup_index(spark, tmp_path):
    """Near-dup case of the crash test: documents table at v2 (append,
    delete), its loop, its fold, a batch-recompute check and one more
    commit."""
    from meteomatics_e2e_data_pipeline_spark.operators import neardup
    from meteomatics_e2e_data_pipeline_spark.streaming import (
        stream_cdc_near_dup_maintenance,
    )

    docs0 = spark.createDataFrame(
        [(1, _doc("a")), (2, _doc("a", (9, "zz"))), (3, _doc("b")),
         (5, _doc("c"))], _DOC_SCHEMA)
    t = TxTable.create(spark, docs0.coalesce(1), str(tmp_path / "docs"),
                       stat_cols=["doc_id"])
    t.append(spark.createDataFrame(                                   # v1
        [(6, _doc("b", (0, "qq")))], _DOC_SCHEMA))
    t.delete(spark.createDataFrame([(2,)], "doc_id long"), ["doc_id"])  # v2
    ck, sp = str(tmp_path / "ck"), str(tmp_path / "state")

    def check():
        state = stream_cdc_near_dup_maintenance(spark, t.path, ck, sp)
        pairs = neardup.near_dup_pairs(t.read())
        assert _msx(state["pairs"]) == _msx(pairs)
        assert _msx(state["clusters"]) == _msx(neardup.dup_clusters(pairs))
        assert _msx(state["corpus"]) == _msx(t.read())
        assert (3, 6) in {(a, b) for a, b, _ in _msx(state["pairs"])}
        # the state history is itself auditable: the packed v0
        # bootstrap equals the documents table's v0 index
        st = TxTable(spark, sp)
        boot = neardup.unpack_near_dup_state(st.read(version=0))
        assert _msx(boot["pairs"]) == _msx(
            neardup.near_dup_pairs(t.read(version=0)))
        # the packed table's schema IS the declared contract
        assert st.schema() == StructType.fromDDL(
            neardup._NEARDUP_STATE_SCHEMA)

    def more():
        t.append(spark.createDataFrame(                               # v3
            [(7, _doc("c", (9, "ww")))], _DOC_SCHEMA))

    return SimpleNamespace(
        src=t, state_path=sp,
        run=lambda: stream_cdc_near_dup_maintenance(spark, t.path, ck, sp),
        fold=neardup.fold_cdc_near_dup, check=check, more=more)


def _ann_index(spark, tmp_path):
    """ANN case of the crash test: a small embeddings table at v2
    (append, delete), its loop, its fold, a rebuild check and one more
    commit."""
    from meteomatics_e2e_data_pipeline_spark.operators import (
        annindex,
        similarity,
    )

    def vecs(lo, hi):
        return spark.createDataFrame(
            [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(4)])
             for i in range(lo, hi)], "vec_id long, embedding array<float>")

    centroids = vecs(0, 4).select(F.col("vec_id").alias("centroid_id"),
                                  "embedding")
    t = TxTable.create(spark, vecs(0, 30).coalesce(1),
                       str(tmp_path / "emb"), stat_cols=["vec_id"])  # v0
    t.append(vecs(30, 40).coalesce(1))                                # v1
    t.delete(spark.createDataFrame([(3,), (31,)], "vec_id long"),
             ["vec_id"])                                              # v2
    ck, sp = str(tmp_path / "ck"), str(tmp_path / "ann")

    def run():
        return annindex.stream_cdc_ann_maintenance(
            spark, t.path, ck, sp, centroids=centroids)

    def check():
        run()
        got = annindex.ann_frames(TxTable(spark, sp))
        live = t.read()
        assert _msx(got["assign"]) == _msx(similarity.ivf_assign(
            live, centroids).select("vec_id", "embedding", "bucket"))
        assert _msx(got["codes"]) == _msx(similarity.quantize_int8(
            live).select("vec_id", "scale", "q"))
        assert _msx(got["centroids"]) == _msx(centroids)

    return SimpleNamespace(
        src=t, state_path=sp, run=run, fold=annindex.fold_cdc_ann,
        check=check, more=lambda: t.append(vecs(40, 45).coalesce(1)))


@pytest.mark.parametrize("index", ["neardup", "ann"])
def test_cdc_index_maintenance_exactly_once_across_crash(
        spark, tmp_path, index):
    """The one CDC maintenance loop
    (sources.txlog_stream.maintain_from_cdc), for both indexes it runs:
    state in ONE frame-discriminated txlog table, one atomic
    keyed-delta commit (apply_delta(txn=...)) per fold. A crash injected in the classic
    two-commit gap (state-table commit published, stream checkpoint
    commit lost) replays the batch on restart and the txn ledger makes
    the replay publish NOTHING; re-applying the fold's delta for an
    already-applied window leaves the state unchanged (the fold is
    idempotent — the at-least-once backstop beneath the txn guard); and
    the next commit folds from consistent state, equal to a
    from-scratch rebuild."""
    import meteomatics_e2e_data_pipeline_spark.operators.txlog as txmod

    case = {"neardup": _near_dup_index, "ann": _ann_index}[index](
        spark, tmp_path)
    real = txmod.TxTable.apply_delta
    calls = {"crashed": False}
    state_path = case.state_path.rstrip("/")

    def crashing(self, deletes, inserts=None, txn=None):
        v = real(self, deletes, inserts, txn=txn)
        # Scope the injection to THIS test's state table: the patch is
        # process-global (class attribute), so an apply_delta call from
        # any concurrent session/thread would otherwise absorb the one
        # injected crash and this test's fold would sail through.
        if self.path == state_path and not calls["crashed"]:
            calls["crashed"] = True
            raise RuntimeError("injected crash after state commit")
        return v

    txmod.TxTable.apply_delta = crashing
    try:
        with pytest.raises(Exception, match="injected crash"):
            case.run()
    finally:
        txmod.TxTable.apply_delta = real
    v_crash = TxTable(spark, case.state_path).version  # boot + one fold

    # restart: the batch replays, the txn guard publishes NOTHING new
    case.check()
    assert TxTable(spark, case.state_path).version == v_crash

    # fold idempotence: the delta for window (0, 2], re-applied without
    # a txn to the post-batch state, leaves the state unchanged
    st = TxTable(spark, case.state_path)
    before = _msx(st.read())
    clauses, inserts = case.fold(case.src.read_changes(0, 2), st)
    st.apply_delta(clauses, inserts)
    assert _msx(TxTable(spark, case.state_path).read()) == before

    # further commits fold from CONSISTENT persisted state
    v = TxTable(spark, case.state_path).version
    case.more()
    case.check()
    assert TxTable(spark, case.state_path).version == v + 1


def _heavy_test_cdc_replication_via_apply_changes_survives_any_dml_and_crash(
        spark, tmp_path):
    """Table replication through the change feed: a replica fed by
    txlog_cdc → foreachBatch → TxTable.apply_changes(txn=...) equals
    the source after EVERY kind of DML the format supports — append,
    updating MERGE, keyed DELETE, expression UPDATE, and RESTORE — and
    stays exactly-once across a crash injected between the replica
    commit and the stream checkpoint commit."""
    import meteomatics_e2e_data_pipeline_spark.operators.txlog as txmod

    src = TxTable.create(spark, _kv(spark, 0, 20), str(tmp_path / "src"),
                         stat_cols=["k"])                            # v0
    rep = TxTable.create(spark, src.read(version=0),
                         str(tmp_path / "rep"), stat_cols=["k"])
    ck = str(tmp_path / "ck")
    register(spark)

    def sync(crash_after_apply=False):
        state = {"n": 0}

        def _apply(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            rep.apply_changes(batch_df, ["k"], txn=("replica", batch_id))
            state["n"] += 1
            if crash_after_apply and state["n"] == 1:
                raise RuntimeError("injected crash after replica commit")

        q = (spark.readStream.format("txlog_cdc")
             .option("path", src.path).load()
             .writeStream.foreachBatch(_apply)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def kv(t):
        return Counter((r["k"], r["v"]) for r in t.read().collect())

    # every DML shape, then one sync with a crash in the two-commit gap
    src.append(_kv(spark, 20, 30))                                   # v1
    src.merge_upsert(_kv(spark, 5, 25, mul=9), ["k"], update=True)   # v2
    with pytest.raises(Exception, match="injected crash"):
        sync(crash_after_apply=True)
    v_after_crash = rep.version
    sync()                                     # replay publishes NOTHING
    assert rep.version == v_after_crash
    assert kv(rep) == kv(src)

    src.delete(spark.createDataFrame([(2,), (7,)], "k long"), ["k"])  # v3
    src.update("k >= 25", {"v": "v + 1000"})                          # v4
    sync()
    assert kv(rep) == kv(src)

    v_rollback_target = 2
    src.restore(v_rollback_target)                                    # v5
    sync()
    assert kv(rep) == kv(src)
    assert kv(rep) == Counter((r["k"], r["v"]) for r in
                              src.read(version=v_rollback_target)
                              .collect())

    # a sync with no new commits replicates nothing and commits nothing
    v = rep.version
    sync()
    assert rep.version == v

    # source widens via merge_schema: replication FOLLOWS the new column
    # (r11 advice — the old projection silently dropped it), evolving the
    # replica schema in the same atomic commit
    src.append(_kv(spark, 50, 55).withColumn("w", F.col("k") * 10),
               merge_schema=True)                                     # v6
    sync()
    assert [f.name for f in rep.schema().fields] == ["k", "v", "w"]

    def kvw(t):
        return Counter(tuple(r) for r in
                       t.read().select("k", "v", "w").collect())

    assert kvw(rep) == kvw(src)

    # a FRESH catch-up replica (startingVersion=0, ONE availableNow pass
    # over the whole restore-bearing, schema-evolving history): the
    # stream reader must net the remove/re-add pair by multiset — the
    # set-intersection bug cancelled both and lost the restored rows
    rep2 = TxTable.create(spark, src.read(version=0),
                          str(tmp_path / "rep2"), stat_cols=["k"])

    def _apply2(batch_df, batch_id):
        if not batch_df.isEmpty():
            rep2.apply_changes(batch_df, ["k"], txn=("rep2", batch_id))

    q = (spark.readStream.format("txlog_cdc")
         .option("path", src.path).load()
         .writeStream.foreachBatch(_apply2)
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert kvw(rep2) == kvw(src)


def _heavy_test_apply_changes_rejects_duplicate_key_window(spark, tmp_path):
    """Keyed replication requires a key-unique source: a window whose
    netted inserts carry two different values for one key has no
    well-defined replica — apply_changes raises instead of keeping an
    arbitrary row (the old dropDuplicates silently diverged)."""
    rep = TxTable.create(spark, _kv(spark, 0, 5), str(tmp_path / "rep"),
                         stat_cols=["k"])
    feed = spark.createDataFrame(
        [(7, 14, "insert"), (7, 99, "insert")],
        "k long, v long, _change_type string")
    with pytest.raises(ValueError, match="key-unique"):
        rep.apply_changes(feed, ["k"])
    # a duplicate that NETS away (copy-on-write carry) is fine
    ok = spark.createDataFrame(
        [(7, 14, "insert"), (7, 99, "insert"), (7, 99, "delete")],
        "k long, v long, _change_type string")
    rep.apply_changes(ok, ["k"])
    assert rep.read().filter("k = 7").collect()[0]["v"] == 14

# ---------------------------------------------------------------------------
# Pooled heavy bodies (runtime-budget lever; see conftest.pool_bodies):
# independent bodies run concurrently under one module fixture, each
# keeping its own pytest row. Tests that mutate process-global state
# (class attributes, spark conf) are deliberately NOT pooled.
# ---------------------------------------------------------------------------

_POOLED = {
    "test_cdc_feeds_incremental_near_dup_maintenance": _heavy_test_cdc_feeds_incremental_near_dup_maintenance,
    "test_cdc_replication_via_apply_changes_survives_any_dml_and_crash": _heavy_test_cdc_replication_via_apply_changes_survives_any_dml_and_crash,
    "test_stream_cdc_batches_follow_commits_exactly_once": _heavy_test_stream_cdc_batches_follow_commits_exactly_once,
    "test_cdc_max_versions_per_trigger_bounds_batches": _heavy_test_cdc_max_versions_per_trigger_bounds_batches,
    "test_txtable_delete_copy_on_write_and_cdc_nets_exact_rows": _heavy_test_txtable_delete_copy_on_write_and_cdc_nets_exact_rows,
    "test_apply_changes_rejects_duplicate_key_window": _heavy_test_apply_changes_rejects_duplicate_key_window,
}


@pytest.fixture(scope="module")
def stream_pool(_heavy_pool):
    # touch all (submits on targeted runs), then join only
    # THIS module futures; the rest keep draining
    futs = {n: _heavy_pool["tests.test_txlog_stream::" + n]
            for n in _POOLED}
    return {n: f.result() for n, f in futs.items()}


def test_cdc_feeds_incremental_near_dup_maintenance(stream_pool):
    ex = stream_pool["test_cdc_feeds_incremental_near_dup_maintenance"]
    if ex is not None:
        raise ex


def test_cdc_replication_via_apply_changes_survives_any_dml_and_crash(stream_pool):
    ex = stream_pool["test_cdc_replication_via_apply_changes_survives_any_dml_and_crash"]
    if ex is not None:
        raise ex


def test_stream_cdc_batches_follow_commits_exactly_once(stream_pool):
    ex = stream_pool["test_stream_cdc_batches_follow_commits_exactly_once"]
    if ex is not None:
        raise ex


def test_cdc_max_versions_per_trigger_bounds_batches(stream_pool):
    ex = stream_pool["test_cdc_max_versions_per_trigger_bounds_batches"]
    if ex is not None:
        raise ex


def test_txtable_delete_copy_on_write_and_cdc_nets_exact_rows(stream_pool):
    ex = stream_pool["test_txtable_delete_copy_on_write_and_cdc_nets_exact_rows"]
    if ex is not None:
        raise ex


def test_apply_changes_rejects_duplicate_key_window(stream_pool):
    ex = stream_pool["test_apply_changes_rejects_duplicate_key_window"]
    if ex is not None:
        raise ex

