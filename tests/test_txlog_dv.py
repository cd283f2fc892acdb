"""Deletion vectors: merge-on-read keyed DELETE (``mode="dv"`` — the
Iceberg equality-delete / Delta deletion-vector idea, reader/writer
protocol 3). The 100 TB point-delete answer: a one-row delete in a
1 GB file costs one log line instead of a 1 GB rewrite. Contract
(VERDICT r12 directive #2):

- a dv delete rewrites ZERO data files (commit log asserted);
- snapshot reads, ``read_keys``, and every DML planner see only
  visible rows (no resurrection through MERGE/UPDATE/rewrites);
- CDC emits exactly the tombstoned rows as deletes, the fold
  invariant holds across dv + optimize + restore, and
  ``apply_changes`` replicates a source through a dv delete;
- OPTIMIZE materializes tombstones away silently (layout-only);
- RESTORE reconciles dv state in both directions;
- the plain-IO sources are DV-native (reader 3): the batch DataSource
  scans merge-on-read and the CDC stream emits dv deletes exactly.
"""

from __future__ import annotations

from collections import Counter

import pytest

from meteomatics_e2e_data_pipeline_spark.operators.txlog import (
    TxConflict, TxTable)


def _kv(spark, n=20, parts=3):
    return spark.createDataFrame([(i, i * 10) for i in range(n)],
                                 "k long, v long").repartition(parts)


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def _multiset(df):
    return Counter(map(tuple, df.collect()))


def _fold_ok(t):
    end = _multiset(t.read())
    for frm in range(t.version + 1):
        ch = t.read_changes(frm)
        ins = _multiset(ch.filter("_change_type = 'insert'")
                        .drop("_change_type"))
        dels = _multiset(ch.filter("_change_type = 'delete'")
                         .drop("_change_type"))
        assert _multiset(t.read(version=frm)) + ins - dels == end, frm


def _heavy_test_dv_delete_rewrites_zero_files(spark, tmp_path):
    t = TxTable.create(spark, _kv(spark), str(tmp_path / "t"),
                       stat_cols=["k"])
    files0 = set(t.live_files())
    v = t.delete(_keys(spark, 3, 7, 15), ["k"], mode="dv")
    assert set(t.live_files()) == files0  # ZERO data files touched
    acts = t.history()[v]
    assert not any("add" in a or "remove" in a for a in acts)
    assert sum(1 for a in acts if "dv" in a) >= 1
    # first use upgraded the protocol in the SAME commit
    assert any(a.get("protocol") == {"minReader": 3, "minWriter": 3}
               for a in acts)
    assert t.detail()["protocol"]["minReader"] == 3
    assert t.detail()["dv_tombstones"] == 3
    # visible everywhere
    assert sorted(r["k"] for r in t.read().collect()) \
        == [i for i in range(20) if i not in (3, 7, 15)]
    assert [r["k"] for r in
            t.read_keys(_keys(spark, 3, 4), ["k"]).collect()] == [4]
    # re-deleting a tombstoned key publishes NOTHING (idempotent)
    assert t.delete(_keys(spark, 3), ["k"], mode="dv") == v
    # the dv window's change feed is EXACTLY the tombstoned rows
    assert sorted(map(tuple, t.read_changes(v - 1, v).collect())) \
        == [(3, 30, "delete"), (7, 70, "delete"), (15, 150, "delete")]
    audit = t.fsck(verify_row_counts=True)
    assert audit["ok"] and audit["dv_files"]


def _heavy_test_dv_no_resurrection_through_dml(spark, tmp_path):
    """Every rewrite path must apply live tombstones: a copy-on-write
    pass over a dv'd file that ignored its vector would silently
    resurrect deleted rows."""
    t = TxTable.create(spark, _kv(spark, parts=2), str(tmp_path / "t"),
                       stat_cols=["k"])
    t.delete(_keys(spark, 2, 11), ["k"], mode="dv")
    # insert-only merge treats the tombstoned key as absent
    t.merge_upsert(spark.createDataFrame([(2, 999)], "k long, v long"),
                   ["k"], update=False)
    assert t.read().filter("k = 2").collect()[0]["v"] == 999
    # UPDATE rewrites a file holding a tombstone: deleted row stays dead
    t.update("k = 4", {"v": "v * 2"})
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[4] == 80 and 11 not in got and got[2] == 999
    # cow delete over remaining files composes with the vectors
    t.delete(_keys(spark, 5), ["k"])
    assert 5 not in {r["k"] for r in t.read().collect()}
    _fold_ok(t)


def _heavy_test_dv_optimize_materializes_silently(spark, tmp_path):
    t = TxTable.create(spark, _kv(spark), str(tmp_path / "t"),
                       stat_cols=["k"])
    t.delete(_keys(spark, 1, 9), ["k"], mode="dv")
    before = _multiset(t.read())
    vb = t.version
    t.optimize(target_rows=1000)
    assert t.detail()["dv_files"] == 0       # tombstones gone physical
    assert _multiset(t.read()) == before     # same visible rows
    assert t.read_changes(vb).count() == 0   # and the feed stays silent
    _fold_ok(t)


def _heavy_test_dv_restore_reconciles_both_directions(spark, tmp_path):
    t = TxTable.create(spark, _kv(spark, parts=2), str(tmp_path / "t"),
                       stat_cols=["k"])
    dvv = t.delete(_keys(spark, 5, 6), ["k"], mode="dv")
    # back BEFORE the tombstones: rows reappear
    t.restore(0)
    assert sorted(r["k"] for r in t.read().collect()) == list(range(20))
    # forward ONTO the tombstoned snapshot again
    t.restore(dvv)
    assert sorted(r["k"] for r in t.read().collect()) \
        == [i for i in range(20) if i not in (5, 6)]
    _fold_ok(t)


def _heavy_test_dv_replication_and_plain_io_sources(spark, tmp_path):
    """The plain-IO tiers are DV-native (reader 3): the batch
    DataSource's merge-on-read scan equals TxTable.read, its stat
    pruning stays sound over tombstoned files, and a STREAMED replica
    (txlog_cdc -> foreachBatch -> apply_changes) follows the source
    through a deletion-vector delete exactly."""
    from meteomatics_e2e_data_pipeline_spark.sources import (txlog_batch,
                                                             txlog_stream)
    txlog_batch.register(spark)
    txlog_stream.register(spark)
    t = TxTable.create(spark, _kv(spark), str(tmp_path / "src"),
                       stat_cols=["k"])
    t.append(spark.createDataFrame([(50, 500)], "k long, v long"))
    t.delete(_keys(spark, 4, 50), ["k"], mode="dv")
    # keyed replica via the BATCH feed
    rep = TxTable.create(spark, t.read(version=0), str(tmp_path / "rep"),
                         stat_cols=["k"])
    rep.apply_changes(t.read_changes(0), ["k"])
    assert _multiset(rep.read()) == _multiset(t.read())
    # batch DataSource: merge-on-read scan == TxTable.read; a pushed
    # point filter on a tombstoned key returns nothing (pruning stays
    # one-sided: the dv mask drops the row even when stats admit it)
    ds = spark.read.format("txlog").option("path", t.path).load()
    assert _multiset(ds) == _multiset(t.read())
    assert (spark.read.format("txlog").option("path", t.path).load()
            .filter("k = 4").count()) == 0
    # STREAMED replica through the dv delete
    rep2 = TxTable.create(spark, t.read(version=0),
                          str(tmp_path / "rep2"), stat_cols=["k"])

    def _apply(batch_df, batch_id):
        if not batch_df.isEmpty():
            rep2.apply_changes(batch_df, ["k"], txn=("dvrep", batch_id))

    q = (spark.readStream.format("txlog_cdc").option("path", t.path)
         .load().writeStream.foreachBatch(_apply)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert _multiset(rep2.read()) == _multiset(t.read())


def _heavy_test_dv_composes_with_partitioned_tables(spark, tmp_path):
    """The two r13 tiers composed: a deletion-vector delete on a
    HIVE-PARTITIONED table — tombstones reference key=value relative
    paths, partition pruning and the merge-on-read anti-join stack,
    rewrites (merge) land back in their partitions without
    resurrection, and OPTIMIZE materializes within partitions."""
    df = spark.createDataFrame(
        [("DE", i, i * 10) for i in range(8)]
        + [("EE", i, i * 10) for i in range(8, 16)],
        "country string, k long, v long")
    t = TxTable.create(spark, df, str(tmp_path / "t"), stat_cols=["k"],
                       partition_cols=["country"])
    files0 = set(t.live_files())
    t.delete(_keys(spark, 2, 9), ["k"], mode="dv")
    assert set(t.live_files()) == files0  # zero rewrites, partitioned too
    assert t.detail()["protocol"] == {"minReader": 3, "minWriter": 3}
    assert sorted(r["k"] for r in t.read().collect()) \
        == [i for i in range(16) if i not in (2, 9)]
    # partition-pruned read still applies the vector
    de = t.read(partition_values={"country": "DE"})
    assert sorted(r["k"] for r in de.collect()) == [0, 1, 3, 4, 5, 6, 7]
    assert all("country=DE" in f for f in de.inputFiles())
    # merge over a tombstoned key re-inserts INTO its partition
    t.merge_upsert(spark.createDataFrame([("DE", 2, 999)], df.schema),
                   ["k"], update=True)
    got = t.read().filter("k = 2").collect()
    assert [(r["country"], r["v"]) for r in got] == [("DE", 999)]
    assert all("country=" in p for p in t.live_files())
    _fold_ok(t)
    t.optimize(target_rows=1000)
    assert t.detail()["dv_files"] == 0
    assert all("country=" in p for p in t.live_files())
    assert sorted(r["k"] for r in t.read().collect()) \
        == [i for i in range(16) if i != 9]
    assert t.fsck(verify_row_counts=True)["ok"]


def _heavy_test_dv_guardrails(spark, tmp_path):
    t = TxTable.create(
        spark,
        spark.createDataFrame([(1, 0.5), (2, 1.5)], "k long, x double"),
        str(tmp_path / "t"), stat_cols=["k"])
    with pytest.raises(ValueError, match="non-portable"):
        t.delete(spark.createDataFrame([(0.5,)], "x double"), ["x"],
                 mode="dv")
    with pytest.raises(ValueError, match="cow.*dv|'cow' or 'dv'"):
        t.delete(_keys(spark, 1), ["k"], mode="nope")
    # a dv delete matching nothing publishes no commit
    v = t.version
    assert t.delete(_keys(spark, 99), ["k"], mode="dv") == v
    # one keyed tombstone set per file: a second dv delete with
    # DIFFERENT key columns on an already-tombstoned file refuses at
    # plan time (an unmergeable log would brick every later fold) ...
    t2 = TxTable.create(
        spark,
        spark.createDataFrame([(i, i + 100) for i in range(8)],
                              "k long, k2 long").coalesce(1),
        str(tmp_path / "t2"), stat_cols=["k", "k2"])
    t2.delete(_keys(spark, 1), ["k"], mode="dv")
    # single-file table: any k2-keyed delete targets the SAME file the
    # k-keyed tombstone lives on — exactly the refused shape
    with pytest.raises(ValueError, match="share one key-column set"):
        t2.delete(spark.createDataFrame([(102,)], "k2 long"), ["k2"],
                  mode="dv")
    # ... and a CONCURRENT such delete (planned before the first
    # published) is a TxConflict at commit time, not a publish
    rv2 = t2.version - 1  # snapshot taken before the k-keyed dv landed
    tombstoned = next(p for p, a in t2._snapshot()[2].items()
                      if a.get("dv"))
    with pytest.raises(TxConflict, match="different key columns"):
        t2._commit([{"dv": {"path": tombstoned, "keyCols": ["k2"],
                            "keys": [[104]]}}], rv2)
    # the plain-IO fold raises identically on a malformed log
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import merge_dv
    with pytest.raises(ValueError, match="share key columns"):
        merge_dv({"keyCols": ["k"], "keys": [[1]]},
                 {"keyCols": ["k2"], "keys": [[2]]})


_POOLED = {n: fn for n, fn in [
    ("test_dv_delete_rewrites_zero_files",
     _heavy_test_dv_delete_rewrites_zero_files),
    ("test_dv_no_resurrection_through_dml",
     _heavy_test_dv_no_resurrection_through_dml),
    ("test_dv_optimize_materializes_silently",
     _heavy_test_dv_optimize_materializes_silently),
    ("test_dv_restore_reconciles_both_directions",
     _heavy_test_dv_restore_reconciles_both_directions),
    ("test_dv_replication_and_plain_io_sources",
     _heavy_test_dv_replication_and_plain_io_sources),
    ("test_dv_composes_with_partitioned_tables",
     _heavy_test_dv_composes_with_partitioned_tables),
    ("test_dv_guardrails", _heavy_test_dv_guardrails),
]}


@pytest.fixture(scope="module")
def dv_pool(_heavy_pool):
    futs = {n: _heavy_pool["tests.test_txlog_dv::" + n] for n in _POOLED}
    return {n: f.result() for n, f in futs.items()}


def _shim(name):
    def test(dv_pool):
        ex = dv_pool[name]
        if ex is not None:
            raise ex
    test.__name__ = name
    return test


for _n in _POOLED:
    globals()[_n] = _shim(_n)
del _n
