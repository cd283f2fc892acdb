"""Batch txlog DataSource (sources/txlog_batch.py): snapshot reads as
``spark.read.format("txlog")`` with log-stat file pruning pushed into
scan planning — the Delta/Iceberg data-skipping contract, one-sided by
construction (pruning only ever skips provably-unmatchable files; every
filter is handed back to Spark for row-level re-application)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql.datasource import (
    EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan,
    LessThanOrEqual, StringStartsWith,
)

from meteomatics_e2e_data_pipeline_spark.operators.txlog import TxTable
from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
    TxLogBatchReader,
    register,
)


def _kv(spark, lo, hi, mul=2):
    return (spark.range(lo, hi)
            .selectExpr("id as k", f"id*{mul} as v").coalesce(1))


def _ms(df):
    return Counter(tuple(r) for r in df.collect())


def _striped(spark, tmp_path, stripes=8, rows=16):
    """One file per contiguous k-stripe → perfectly prunable stats."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, rows), p, stat_cols=["k"])
    for i in range(1, stripes):
        t.append(_kv(spark, i * rows, (i + 1) * rows))
    assert len(t.live_files()) == stripes
    return p, t


def test_format_txlog_reads_snapshots_and_time_travel(spark, tmp_path):
    register(spark)
    p, t = _striped(spark, tmp_path, stripes=3)
    t.merge_upsert(_kv(spark, 10, 20, mul=9), ["k"], update=True)

    got = spark.read.format("txlog").option("path", p).load()
    assert got.columns == ["k", "v"]
    assert _ms(got) == _ms(t.read())
    for v in range(t.version + 1):
        tv = (spark.read.format("txlog").option("path", p)
              .option("versionAsOf", str(v)).load())
        assert _ms(tv) == _ms(t.read(version=v)), v
    with pytest.raises(Exception, match="out of range"):
        (spark.read.format("txlog").option("path", p)
         .option("versionAsOf", "99").load().collect())


def test_pushdown_prunes_files_one_sided(spark, tmp_path):
    """Unit contract on the reader: range/equality/IN filters on a stat
    column prune exactly the unmatchable stripes; unknown filter shapes
    and stat-less columns prune nothing."""
    p, t = _striped(spark, tmp_path, stripes=8, rows=16)  # k: 0..127

    def planned(filters):
        r = TxLogBatchReader({"path": p})
        leftover = list(r.pushFilters(filters))
        assert leftover == filters          # every filter handed back
        return len(r.partitions())

    assert planned([]) == 8
    assert planned([EqualTo(("k",), 5)]) == 1
    assert planned([In(("k",), (5, 100))]) == 2
    assert planned([GreaterThan(("k",), 95)]) == 2          # stripes 6,7
    assert planned([GreaterThanOrEqual(("k",), 96)]) == 2
    assert planned([LessThan(("k",), 16)]) == 1
    assert planned([LessThanOrEqual(("k",), 16)]) == 2
    assert planned([GreaterThan(("k",), 31), LessThan(("k",), 48)]) == 1
    assert planned([EqualTo(("k",), -1)]) == 0               # nothing can match
    # v has no stats; IsNotNull/StringStartsWith are unknown shapes: keep all
    assert planned([EqualTo(("v",), 10)]) == 8
    assert planned([IsNotNull(("k",))]) == 8
    assert planned([StringStartsWith(("k",), "1")]) == 8

    # end-to-end: the engine's answer is exact despite the skipping
    register(spark)
    df = spark.read.format("txlog").option("path", p).load()
    assert _ms(df.filter("k = 5")) == Counter({(5, 10): 1})
    assert (df.filter("k >= 96 and v % 2 = 0").count()
            == t.read().filter("k >= 96").count())


def test_format_txlog_nullfills_pre_evolution_files(spark, tmp_path):
    register(spark)
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])
    t.append(spark.range(10, 15).selectExpr(
        "id as k", "id*2 as v", "id*3 as w").coalesce(1),
        merge_schema=True)
    df = spark.read.format("txlog").option("path", p).load()
    assert df.columns == ["k", "v", "w"]
    assert _ms(df) == _ms(t.read())
    assert df.filter("w is null").count() == 10
    # pre-evolution snapshot still reads with its own 2-column schema
    old = (spark.read.format("txlog").option("path", p)
           .option("versionAsOf", "0").load())
    assert old.columns == ["k", "v"]


def test_write_format_txlog_append_is_atomic_and_stat_pruned(spark, tmp_path):
    """df.write.format("txlog").mode("append"): every task stages one
    file, ONE commit publishes them all (version bumps exactly once),
    per-file stats computed in-task feed the same pruning as TxTable
    staging, and a schema-name mismatch fails before any task runs."""
    register(spark)
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 16), p, stat_cols=["k"])

    (spark.range(16, 48).selectExpr("id as k", "id*2 as v")
     .repartition(4)
     .write.format("txlog").option("path", p).mode("append").save())

    assert t.version == 1
    assert _ms(t.read()) == Counter({(k, 2 * k): 1 for k in range(48)})
    adds = [a["add"] for a in t.history()[1] if "add" in a]
    assert len(adds) == 4                       # one file per task
    assert all(a["stats"]["k"][0] is not None for a in adds)
    assert sum(a["numRecords"] for a in adds) == 32
    # the written files' stats prune like any other txlog file
    r = TxLogBatchReader({"path": p})
    list(r.pushFilters([EqualTo(("k",), 0)]))
    assert len(r.partitions()) == 1             # only the create file

    with pytest.raises(Exception, match="schema mismatch"):
        (spark.range(5).selectExpr("id as wrong")
         .write.format("txlog").option("path", p).mode("append").save())
    assert t.version == 1                       # nothing published

    # empty append publishes nothing
    (spark.range(0).selectExpr("id as k", "id as v")
     .write.format("txlog").option("path", p).mode("append").save())
    assert t.version == 1


def test_write_format_txlog_overwrite_and_time_travel(spark, tmp_path):
    register(spark)
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])
    (spark.range(100, 105).selectExpr("id as k", "id*3 as v").coalesce(1)
     .write.format("txlog").option("path", p).mode("overwrite").save())
    assert t.version == 1
    assert _ms(t.read()) == Counter({(k, 3 * k): 1 for k in range(100, 105)})
    assert _ms(t.read(version=0)) == Counter(
        {(k, 2 * k): 1 for k in range(10)})
    # round-trip through the reader too
    got = (spark.read.format("txlog").option("path", p).load())
    assert _ms(got) == _ms(t.read())


def test_writer_commit_retries_past_concurrent_append(spark, tmp_path):
    """The V2 commit races a TxTable append for the next version: the
    append claims it first, the writer's publish retries onto the
    following version — both commits survive, no rows lost."""
    from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
        TxLogBatchWriter, TxWriteMessage,
    )

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])
    w = TxLogBatchWriter({"path": p}, t.schema(), overwrite=False)
    msgs = [w.write(iter([(50, 100), (51, 102)]))]
    t.append(_kv(spark, 20, 25))            # concurrent writer wins v1
    w.commit(msgs)                          # retries, lands at v2
    assert t.version == 2
    assert _ms(t.read()) == (
        Counter({(k, 2 * k): 1 for k in range(10)})
        + Counter({(k, 2 * k): 1 for k in range(20, 25)})
        + Counter({(50, 100): 1, (51, 102): 1}))
    # overwrite mode with the same race REFUSES instead
    w2 = TxLogBatchWriter({"path": p}, t.schema(), overwrite=True)
    m2 = [w2.write(iter([(1, 1)]))]
    t.append(_kv(spark, 30, 31))
    with pytest.raises(RuntimeError, match="raced a concurrent commit"):
        w2.commit(m2)
    w2.abort(m2)                            # staged file cleaned up
    staged = m2[0].adds[0]["path"]
    import os
    assert not os.path.exists(os.path.join(p, staged))


def test_stream_sink_txn_guard_makes_replay_a_noop(spark, tmp_path):
    """Unit contract of the exactly-once streaming sink: a commit whose
    batchId was already recorded in the table's txn ledger publishes
    nothing and deletes its staged duplicates — the crash-replay window
    between table commit and stream checkpoint commit is closed at the
    protocol level, no key needed."""
    import os

    from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
        TxLogStreamWriter,
    )

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 5), p, stat_cols=["k"])
    with pytest.raises(ValueError, match="txnAppId"):
        TxLogStreamWriter({"path": p}, t.schema())

    w = TxLogStreamWriter({"path": p, "txnAppId": "q1"}, t.schema())
    m1 = [w.write(iter([(10, 20), (11, 22)]))]
    w.commit(m1, 0)
    assert t.version == 1 and t.last_txn("q1") == 0
    after_first = _ms(t.read())

    # crash-replay: the engine re-runs batch 0 (new staged files)
    m1b = [w.write(iter([(10, 20), (11, 22)]))]
    staged = m1b[0].adds[0]["path"]
    w.commit(m1b, 0)
    assert t.version == 1                       # nothing published
    assert _ms(t.read()) == after_first
    assert not os.path.exists(os.path.join(p, staged))

    # a DIFFERENT appId at batch 0 is NOT deduplicated (ledger scoping)
    w2 = TxLogStreamWriter({"path": p, "txnAppId": "q2"}, t.schema())
    w2.commit([w2.write(iter([(30, 60)]))], 0)
    assert t.version == 2 and t.last_txn("q2") == 0
    # empty batch still advances the ledger (txn-only commit)
    w2.commit([], 1)
    assert t.last_txn("q2") == 1
    assert _ms(t.read()) == after_first + Counter({(30, 60): 1})

    # the ledger survives checkpointing on BOTH fold paths
    t.write_checkpoint()
    assert t.last_txn("q1") == 0 and t.last_txn("q2") == 1
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        LocalLogIO, replay,
    )
    _, _, _, txns, _ = replay(LocalLogIO(p))
    assert txns == {"q1": 0, "q2": 1}


def test_write_stream_format_txlog_end_to_end(spark, tmp_path):
    """A real streaming query into the txlog sink: two micro-batches
    land as two commits with txn actions; restarting the query from its
    checkpoint with no new input publishes nothing."""
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    ck = str(tmp_path / "ck")
    p = str(tmp_path / "t")
    TxTable.create(spark, _kv(spark, 0, 0), p, stat_cols=["k"])

    def feed(lo, hi, name):
        (_kv(spark, lo, hi).write.mode("overwrite")
         .parquet(os.path.join(src, name)))

    feed(0, 10, "f0")
    feed(10, 20, "f1")

    def run():
        q = (spark.readStream.schema("k bigint, v bigint")
             .option("maxFilesPerTrigger", "1")
             .parquet(src + "/*")
             .writeStream.format("txlog")
             .option("path", p).option("txnAppId", "ingest-1")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    t = TxTable(spark, p)
    assert _ms(t.read()) == Counter({(k, 2 * k): 1 for k in range(20)})
    assert t.last_txn("ingest-1") >= 1          # two batches recorded
    v_after = t.version

    run()                                       # restart: no new input
    assert t.version == v_after
    assert _ms(t.read()) == Counter({(k, 2 * k): 1 for k in range(20)})

    feed(20, 25, "f2")                          # new file: exactly one batch
    run()
    assert _ms(t.read()) == Counter({(k, 2 * k): 1 for k in range(25)})


def test_nullcount_pruning_isnull_isnotnull(spark, tmp_path):
    """nullCount stats (the Delta design): IsNull prunes zero-null
    files, IsNotNull and every range filter prune all-null files, and
    mixed files never prune — with end-to-end answers exact."""
    from pyspark.sql.datasource import IsNull

    p = str(tmp_path / "t")
    t = TxTable.create(
        spark,
        spark.range(0, 10).selectExpr("id as k", "id*2 as v").coalesce(1),
        p, stat_cols=["k"])                                  # zero nulls
    t.append(spark.sql(
        "select cast(null as bigint) k, cast(7 as bigint) v "
        "from range(4)").coalesce(1))                        # all null
    t.append(spark.sql(
        "select if(id % 2 = 0, id + 100, null) k, id as v "
        "from range(6)").coalesce(1))                        # mixed
    adds = {a["add"]["path"]: a["add"] for c in t.history() for a in c
            if "add" in a}
    assert sorted(a["nullCounts"]["k"] for a in adds.values()) == [0, 3, 4]

    def planned(filters):
        r = TxLogBatchReader({"path": p})
        list(r.pushFilters(filters))
        return len(r.partitions())

    assert planned([IsNull(("k",))]) == 2        # zero-null file pruned
    assert planned([IsNotNull(("k",))]) == 2     # all-null file pruned
    assert planned([EqualTo(("k",), 5)]) == 1    # all-null pruned + range
    assert planned([GreaterThan(("k",), -10)]) == 2  # null-rejecting

    register(spark)
    df = spark.read.format("txlog").option("path", p).load()
    assert df.filter("k is null").count() == 7
    assert df.filter("k is not null").count() == 13
    assert df.filter("k = 5").count() == 1


def test_scan_reuse_caveat(spark, tmp_path):
    """Engine-level caveat, pinned so a pyspark upgrade that fixes it is
    noticed: Spark 4.1 caches the planned (read_func, partitions) on
    the Python-DataSource relation and re-plans ONLY for scans that
    push filters (pyspark/sql/worker/data_source_pushdown_filters.py
    plans pushFilters+partitions in one invocation; an unfiltered
    re-scan never calls back into Python). So on a REUSED DataFrame
    object, an unfiltered scan after a filtered one inherits the
    filtered partition list. Safe patterns, both proven here: a fresh
    load() per query is always exact, and statPruning=false makes
    same-object reuse exact (filters still re-push per filtered query,
    files are never pruned)."""
    register(spark)
    p, t = _striped(spark, tmp_path, stripes=4, rows=8)   # 32 rows

    df = spark.read.format("txlog").option("path", p).load()
    assert df.filter("k = 3").count() == 1
    stale = df.count()
    if stale != 32:
        # current Spark 4.1 behavior: the cached filtered partitions
        assert stale == 8, stale
    # every filtered re-scan of the SAME object re-pushes and is exact
    assert df.filter("k >= 24").count() == 8
    assert df.filter("k < 100").count() == 32

    # fresh load per query: always exact
    fresh = lambda: spark.read.format("txlog").option("path", p).load()
    assert fresh().filter("k = 3").count() == 1
    assert fresh().count() == 32

    # statPruning=false: same-object reuse exact, answers unchanged
    df2 = (spark.read.format("txlog").option("path", p)
           .option("statPruning", "false").load())
    assert df2.filter("k = 3").count() == 1
    assert df2.count() == 32


def test_writer_enforces_declared_types_never_inference(spark, tmp_path):
    """ADVICE r10 (medium): the V2 writer must build Arrow data against
    the table's DECLARED schema, never by value inference. Two poison
    shapes: (a) a write whose column TYPES differ from the table's —
    rejected at write time with a clear error, nothing committed; (b) a
    task partition whose column is entirely NULL (inference would emit a
    null-typed parquet column) — commits a correctly-typed file that
    every schema'd read path (TxTable.read, the DataSource) reads back."""
    register(spark)
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 8), p, stat_cols=["k"])

    # (a) right names, wrong type: string into the bigint v column
    with pytest.raises(Exception, match="not .*compatible|compatible"):
        (spark.range(3).selectExpr("id as k", "'oops' as v")
         .write.format("txlog").option("path", p).mode("append").save())
    assert t.version == 0                        # nothing committed

    # (b) an all-null column (worst case: EVERY task partition all-null)
    (spark.range(8, 12)
     .selectExpr("id as k", "cast(null as bigint) as v")
     .repartition(2)
     .write.format("txlog").option("path", p).mode("append").save())
    assert t.version == 1
    assert _ms(t.read()) == _ms(
        spark.createDataFrame(
            [(k, 2 * k) for k in range(8)] + [(k, None) for k in
                                              range(8, 12)], "k long, v long"))
    got = spark.read.format("txlog").option("path", p).load()
    assert _ms(got) == _ms(t.read())
    # null counts reached the stats (nullCount pruning keeps working)
    adds = [a["add"] for a in t.history()[1] if "add" in a]
    assert all(a["stats"]["k"][0] is not None for a in adds)

    # (c) chunked writer equivalence: a >1-chunk partition (the 65536-row
    # chunk boundary) writes one file with exact rows and stats
    n = 70000
    (spark.range(100_000, 100_000 + n)
     .selectExpr("id as k", "id*2 as v").coalesce(1)
     .write.format("txlog").option("path", p).mode("append").save())
    adds = [a["add"] for a in t.history()[2] if "add" in a]
    assert len(adds) == 1 and adds[0]["numRecords"] == n
    assert adds[0]["stats"]["k"] == [100_000, 100_000 + n - 1]
    assert t.read().count() == 12 + n
