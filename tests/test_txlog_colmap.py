"""Column mapping (the public Delta columnMapping 'name' mode): RENAME
and DROP COLUMN as pure metadata commits. Contract:

- data files and every per-file log artifact (stats, nullCounts, bloom,
  dv keyCols) are keyed by STABLE physical names; rename/drop rewrite
  ZERO data at any table size;
- snapshot reads, keyed DML, CDC and streaming replicas all speak the
  renamed logical names from the commit on; time travel to earlier
  versions answers under the names THAT version declared;
- stat/bloom pruning keys by physical id, so point lookups prune
  exactly as before the rename (inputFiles-asserted);
- a column re-added after a drop gets a FRESH physical id — it reads
  null from old files, never the dropped column's stale values;
- first use upgrades the protocol to reader/writer 4; pre-mapping
  clients (the plain-IO DataSources at reader cap 3) refuse loudly;
- fsck/detail report the mapping; fsck's stat verify runs physically.

Reference parity: the reference pipeline itself renames fields between
staging and marts (stg_weather_raw.sql aliases ``param.value:parameter``
→ ``parameter``); this is the lake-side answer to the same need.
"""

from __future__ import annotations

from collections import Counter

import pytest

from meteomatics_e2e_data_pipeline_spark.operators.txlog import (
    TxConflict, TxTable)
from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
    TxProtocolError)


def _kv(spark, n=16, parts=2):
    return spark.createDataFrame(
        [(i, i * 10, f"u{i}") for i in range(n)],
        "k long, v long, tag string").repartition(parts)


def _multiset(df):
    return Counter(map(tuple, df.collect()))


def _heavy_test_rename_is_metadata_only(spark, tmp_path):
    t = TxTable.create(spark, _kv(spark), str(tmp_path / "t"),
                       stat_cols=["k"], bloom_cols=["k"])
    files_before = set(t.live_files())
    v0 = t.version
    t.rename_column("v", "value")
    # zero data rewritten: the live set is byte-identical
    assert set(t.live_files()) == files_before
    assert [f.name for f in t.schema().fields] == ["k", "value", "tag"]
    got = t.read()
    assert got.columns == ["k", "value", "tag"]
    assert _multiset(got.select("k", "value")) == Counter(
        (i, i * 10) for i in range(16))
    # time travel: the old version answers under ITS names
    old = t.read(version=v0)
    assert old.columns == ["k", "v", "tag"]
    assert _multiset(old) == _multiset(got)  # same values, old labels
    # protocol upgraded in the same commit as first use
    assert t.detail()["protocol"] == {"minReader": 4, "minWriter": 4}
    assert t.detail()["column_mapping"]["value"] == "v"
    # chained rename keeps the SAME physical id
    t.rename_column("value", "amount")
    assert t.detail()["column_mapping"]["amount"] == "v"
    assert _multiset(t.read().select("k", "amount")) == Counter(
        (i, i * 10) for i in range(16))
    rep = t.fsck(verify_row_counts=True)
    assert rep["ok"] and rep["column_mapping"]["amount"] == "v"


def _heavy_test_pruning_keys_by_physical_id(spark, tmp_path):
    # 4 range-partitioned files on k; rename k -> order_id; a point
    # lookup must still scan exactly ONE file (stats + bloom keyed by
    # the stable physical id, not the logical label)
    df = (spark.createDataFrame([(i, i * 10) for i in range(40)],
                                "k long, v long")
          .repartitionByRange(4, "k"))
    t = TxTable.create(spark, df, str(tmp_path / "t"),
                       stat_cols=["k"], bloom_cols=["k"])
    t.rename_column("k", "order_id")
    probe = spark.createDataFrame([(7,)], "order_id long")
    got = t.read_keys(probe, ["order_id"])
    assert [tuple(r) for r in got.collect()] == [(7, 70)]
    assert len(got.inputFiles()) == 1
    # keyed DML under the new name: merge + delete still prune/land
    t.merge_upsert(spark.createDataFrame([(7, 700)],
                                         "order_id long, v long"),
                   ["order_id"], update=True)
    assert t.read().filter("order_id = 7").collect()[0]["v"] == 700
    t.delete(spark.createDataFrame([(8,)], "order_id long"),
             ["order_id"])
    assert t.read().filter("order_id = 8").count() == 0
    # stats survive fsck's physical verify after the DML churn
    assert t.fsck(verify_row_counts=True)["ok"]


def _heavy_test_drop_and_readd_never_resurrects(spark, tmp_path):
    t = TxTable.create(spark, _kv(spark), str(tmp_path / "t"),
                       stat_cols=["k"])
    v0 = t.version
    t.drop_column("tag")
    assert t.read().columns == ["k", "v"]
    # time travel still reads the dropped column
    assert t.read(version=v0).columns == ["k", "v", "tag"]
    assert t.read(version=v0).filter("k = 3").collect()[0]["tag"] == "u3"
    # re-add the SAME logical name via merge_schema: fresh physical id,
    # so old files read NULL — never the dropped column's stale values
    t.append(spark.createDataFrame([(100, 1000, "fresh")],
                                   "k long, v long, tag string"),
             merge_schema=True)
    rows = {r["k"]: r["tag"] for r in t.read().collect()}
    assert rows[100] == "fresh"
    assert rows[3] is None  # NOT "u3"
    cm = t.detail()["column_mapping"]
    assert cm["tag"].startswith("col-")  # fresh physical id
    assert t.fsck(verify_row_counts=True)["ok"]


def _heavy_test_cdc_and_replica_across_rename(spark, tmp_path):
    t = TxTable.create(spark, _kv(spark, n=8), str(tmp_path / "t"),
                       stat_cols=["k"])
    v0 = t.version
    t.rename_column("v", "value")
    t.merge_upsert(spark.createDataFrame([(2, 222, "u2")],
                                         "k long, value long, tag string"),
                   ["k"], update=True)
    t.delete(spark.createDataFrame([(5,)], "k long"), ["k"])
    # the feed speaks the TO-version names and the fold invariant holds
    ch = t.read_changes(v0)
    assert "value" in ch.columns
    ins = _multiset(ch.filter("_change_type = 'insert'")
                    .drop("_change_type"))
    dels = _multiset(ch.filter("_change_type = 'delete'")
                     .drop("_change_type"))
    assert _multiset(t.read(version=v0)) + ins - dels \
        == _multiset(t.read())
    # a keyed replica follows the feed under the new names
    rep = TxTable.create(spark, t.read(version=v0),
                         str(tmp_path / "rep"), stat_cols=["k"])
    rep.rename_column("v", "value")
    rep.apply_changes(ch, ["k"])
    assert _multiset(rep.read()) == _multiset(t.read())


def _heavy_test_dv_and_restore_compose_with_mapping(spark, tmp_path):
    df = (spark.createDataFrame([(i, i * 10) for i in range(16)],
                                "k long, v long").coalesce(1))
    t = TxTable.create(spark, df, str(tmp_path / "t"), stat_cols=["k"])
    t.rename_column("k", "id")
    v_before = t.version
    files = set(t.live_files())
    # zero-rewrite DV delete keyed by the RENAMED column
    t.delete(spark.createDataFrame([(9,)], "id long"), ["id"],
             mode="dv")
    assert set(t.live_files()) == files  # no rewrite
    assert sorted(r["id"] for r in t.read().collect()) \
        == [i for i in range(16) if i != 9]
    # the log stores the PHYSICAL keyCol (stable under a second rename)
    t.rename_column("id", "order_id")
    assert sorted(r["order_id"] for r in t.read().collect()) \
        == [i for i in range(16) if i != 9]
    # dropping a live DV key column refuses (would orphan tombstones)
    with pytest.raises(ValueError, match="deletion vectors"):
        t.drop_column("order_id")
    # RESTORE across the renames: back to the pre-delete snapshot —
    # including ITS schema (the public Delta RESTORE contract restores
    # metadata too), so the column answers as 'id' again
    t.restore(v_before)
    assert t.read().columns == ["id", "v"]
    assert sorted(r[0] for r in t.read().select("id").collect()) \
        == list(range(16))
    # OPTIMIZE materializes under mapping; checkpointed fold agrees
    t.optimize(target_rows=1000)
    t.write_checkpoint()
    t2 = TxTable(spark, str(tmp_path / "t"))
    assert sorted(r[0] for r in t2.read().select("id").collect()) \
        == list(range(16))
    assert t2.fsck(verify_row_counts=True)["ok"]


def _heavy_test_guardrails_and_protocol_gate(spark, tmp_path):
    lake = spark.createDataFrame(
        [("DE", 1, 10), ("EE", 2, 20)], "country string, k long, v long")
    t = TxTable.create(spark, lake, str(tmp_path / "t"),
                       stat_cols=["k"], partition_cols=["country"])
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("country", "cc")
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("country")
    t.add_constraint("pos_v", "v >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.rename_column("v", "val")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.drop_column("v")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("k", "v")
    t.rename_column("k", "key_id")
    # partitioned + mapped: pruned read and replaceWhere still work
    assert t.read(partition_values={"country": "DE"}).collect()[0][
        "key_id"] == 1
    t.overwrite_partitions(
        spark.createDataFrame([("DE", 7, 70)],
                              "country string, key_id long, v long"),
        {"country": "DE"})
    assert _multiset(t.read()) == Counter(
        [("DE", 7, 70), ("EE", 2, 20)])
    # PRE-mapping clients refuse (the protocol gate: an older reader
    # would surface physical names as logical and miss the rename) ...
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        LocalLogIO, check_protocol, replay)
    with pytest.raises(TxProtocolError, match="minReader=4"):
        check_protocol(replay(LocalLogIO(str(tmp_path / "t"))).protocol,
                       str(tmp_path / "t"), reader=3)
    # ... while THIS tier's plain-IO DataSources (cap 4) read AND write
    # mapped tables: the V2 writer stages under physical names
    from meteomatics_e2e_data_pipeline_spark.sources import txlog_batch
    txlog_batch.register(spark)
    (spark.createDataFrame([("FR", 3, 30)],
                           "country string, key_id long, v long")
     .write.format("txlog").mode("append").save(str(tmp_path / "t")))
    assert _multiset(t.read()) == Counter(
        [("DE", 7, 70), ("EE", 2, 20), ("FR", 3, 30)])
    assert t.fsck(verify_row_counts=True)["ok"]  # physical stats agree
    # a concurrent schema change conflicts instead of silently losing
    t.drop_constraint("pos_v")
    rv = t.version
    t.rename_column("v", "val")
    with pytest.raises(TxConflict, match="schema change"):
        t._commit_mapping_meta(dict(t._snapshot()[1]), rv,
                               {"op": "rename_column"})


def _heavy_test_clone_carries_mapping(spark, tmp_path):
    t = TxTable.create(spark, _kv(spark, n=8), str(tmp_path / "src"),
                       stat_cols=["k"])
    t.rename_column("v", "value")
    cl = t.clone(str(tmp_path / "cl"))
    assert cl.read().columns == ["k", "value", "tag"]
    assert _multiset(cl.read()) == _multiset(t.read())
    # clone-side rename is isolated from the source
    cl.rename_column("value", "amount")
    assert cl.read().columns == ["k", "amount", "tag"]
    assert t.read().columns == ["k", "value", "tag"]
    cl.merge_upsert(spark.createDataFrame([(2, 999, "x")],
                                          "k long, amount long, tag string"),
                    ["k"], update=True)
    assert cl.read().filter("k = 2").collect()[0]["amount"] == 999
    assert t.read().filter("k = 2").collect()[0]["value"] == 20
    assert cl.fsck(verify_row_counts=True)["ok"]


def _heavy_test_datasources_speak_logical_names(spark, tmp_path):
    """Plain-IO DataSource parity with column mapping: the batch reader
    surfaces LOGICAL names with its pushed-filter file pruning keyed by
    the PHYSICAL stats; the V2 writer stages under physical names with
    physical-keyed stats; the txlog_cdc stream emits the feed under the
    current logical names — all three without a JVM-side fold."""
    from meteomatics_e2e_data_pipeline_spark.sources import (
        txlog_batch, txlog_stream)
    txlog_batch.register(spark)
    txlog_stream.register(spark)
    df = (spark.createDataFrame([(i, i * 10) for i in range(40)],
                                "k long, v long")
          .repartitionByRange(4, "k"))
    t = TxTable.create(spark, df, str(tmp_path / "t"), stat_cols=["k"])
    t.rename_column("k", "order_id")
    v0 = t.version
    # batch reader: logical schema, stat pruning through the rename
    got = (spark.read.format("txlog").option("path", t.path).load()
           .filter("order_id = 7"))
    assert [tuple(r) for r in got.collect()] == [(7, 70)]
    # the planner prunes by the PHYSICAL stats under the logical filter
    # (Python DataSources expose no inputFiles — count planned
    # partitions directly, same as test_txlog_batch_source)
    from pyspark.sql.datasource import EqualTo
    from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
        TxLogBatchReader)
    r = TxLogBatchReader({"path": t.path})
    list(r.pushFilters([EqualTo(("order_id",), 7)]))
    assert len(r.partitions()) == 1  # physical-keyed stats pruned 3/4
    # V2 writer: stages physical; TxTable and the reader agree
    (spark.createDataFrame([(100, 1000)], "order_id long, v long")
     .write.format("txlog").mode("append").save(t.path))
    assert t.read().filter("order_id = 100").count() == 1
    assert (spark.read.format("txlog").option("path", t.path).load()
            .filter("order_id = 100").count() == 1)
    # CDC stream: the feed speaks the current logical names
    t.delete(spark.createDataFrame([(100,)], "order_id long"),
             ["order_id"], mode="dv")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (spark.readStream.format("txlog_cdc").option("path", t.path)
         .option("startingVersion", v0).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).outputMode("append").start())
    q.awaitTermination()
    feed = spark.read.parquet(out)
    assert "order_id" in feed.columns
    rows = {(r["_change_type"], r["order_id"]) for r in feed.collect()}
    assert rows == {("insert", 100), ("delete", 100)}
    assert t.fsck(verify_row_counts=True)["ok"]


_POOLED = {n: fn for n, fn in [
    ("test_rename_is_metadata_only",
     _heavy_test_rename_is_metadata_only),
    ("test_pruning_keys_by_physical_id",
     _heavy_test_pruning_keys_by_physical_id),
    ("test_drop_and_readd_never_resurrects",
     _heavy_test_drop_and_readd_never_resurrects),
    ("test_cdc_and_replica_across_rename",
     _heavy_test_cdc_and_replica_across_rename),
    ("test_dv_and_restore_compose_with_mapping",
     _heavy_test_dv_and_restore_compose_with_mapping),
    ("test_guardrails_and_protocol_gate",
     _heavy_test_guardrails_and_protocol_gate),
    ("test_clone_carries_mapping",
     _heavy_test_clone_carries_mapping),
    ("test_datasources_speak_logical_names",
     _heavy_test_datasources_speak_logical_names),
]}


@pytest.fixture(scope="module")
def colmap_pool(_heavy_pool):
    futs = {n: _heavy_pool["tests.test_txlog_colmap::" + n]
            for n in _POOLED}
    return {n: f.result() for n, f in futs.items()}


def _shim(name):
    def test(colmap_pool):
        ex = colmap_pool[name]
        if ex is not None:
            raise ex
    test.__name__ = name
    return test


for _n in _POOLED:
    globals()[_n] = _shim(_n)
del _n
