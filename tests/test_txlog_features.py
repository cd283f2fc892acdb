"""Write-side features (protocol writer 5): GENERATED columns,
IDENTITY columns, and table properties — the public Delta writer-
feature trio. Contract:

- generated columns compute at write when omitted, VALIDATE when
  provided (``col IS NOT DISTINCT FROM (expr)`` riding the constraint
  stats pass — zero extra jobs), recompute under UPDATE of a base
  column, and — when they are PARTITION columns with a registered
  monotone expression (operators/genexpr.py) — derive partition
  pruning from predicates on the BASE column, in the keyed DML
  planners and the plain-IO ``txlog`` DataSource both;
- identity columns are GENERATED ALWAYS: engine-assigned in one
  distributed pass, unique and step-directed (gaps allowed — the
  public Delta identity contract), high-water mark advanced in the
  SAME atomic commit off the staged files' own stats, concurrent
  allocations conflict (MetadataChanged) instead of double-assigning;
- ``appendOnly`` blocks every data-changing rewrite while appends,
  insert-only merges and OPTIMIZE stay legal; ``checkpointInterval``
  overrides the auto-checkpoint cadence per table;
- first use of any of the three gates minWriter 5; the V2 writer
  (cap 5) validates generated values per-chunk, refuses identity
  tables, and refuses overwrite on append-only tables.
"""

from __future__ import annotations

import datetime

import pytest

from meteomatics_e2e_data_pipeline_spark.operators.txlog import (
    TxConflict, TxTable)
from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
    register)


def _days(spark, rows):
    """rows: (k, d-iso, v) triples -> df with a DATE column."""
    data = [(k, datetime.date.fromisoformat(d), v) for k, d, v in rows]
    return spark.createDataFrame(data, "k long, d date, v long")


_ROWS = [(1, "1994-02-01", 10), (2, "1994-07-09", 20),
         (3, "1995-03-07", 30), (4, "1995-11-11", 40),
         (5, "1996-01-30", 50), (6, "1996-06-15", 60)]


def _gen_table(spark, tmp_path, name="g", **kw):
    return TxTable.create(
        spark, _days(spark, _ROWS), str(tmp_path / name),
        stat_cols=["k", "d"], partition_cols=["y"],
        generated={"y": "year(d)"}, **kw)


def _heavy_test_generated_compute_validate_and_update(spark, tmp_path):
    t = _gen_table(spark, tmp_path)
    got = {(r["k"], r["y"]) for r in t.read().collect()}
    assert got == {(k, int(d[:4])) for k, d, _v in _ROWS}
    # providing a CONSISTENT value passes; an inconsistent one names
    # the implicit generated constraint and leaves the table untouched
    ok = spark.createDataFrame(
        [(7, datetime.date(1997, 5, 5), 70, 1997)],
        "k long, d date, v long, y int")
    t.append(ok)
    bad = spark.createDataFrame(
        [(8, datetime.date(1997, 5, 6), 80, 1912)],
        "k long, d date, v long, y int")
    with pytest.raises(ValueError, match="generated:y"):
        t.append(bad)
    assert t.read().count() == 7
    # non-partition generated column: UPDATE of the base recomputes it
    p2 = str(tmp_path / "g2")
    t2 = TxTable.create(
        spark, _days(spark, _ROWS), p2, stat_cols=["k"],
        generated={"ym": "substring(cast(d as string), 1, 7)"})
    with pytest.raises(ValueError, match="generated/identity"):
        t2.update("k = 1", {"ym": "'2001-01'"})
    t2.update("k = 1", {"d": "date'2001-06-01'"})
    row = {r["k"]: r["ym"] for r in t2.read().collect()}
    assert row[1] == "2001-06" and row[2] == "1994-07"
    # assigning the BASE of a generated PARTITION column = moving rows
    # across partitions: refused like any partition-column assignment
    with pytest.raises(ValueError, match="changing partitions"):
        t.update("k = 1", {"d": "date'2001-06-01'"})


def _heavy_test_generated_partition_pruning_in_dml(spark, tmp_path):
    t = _gen_table(spark, tmp_path)
    assert len(t.live_files()) >= 3  # one subdir per year at least
    # a delete keyed on the BASE column with a one-year key range must
    # only touch that year's partition (derived bound on y)
    t.delete(spark.createDataFrame(
        [(datetime.date(1995, 3, 7),)], "d date"), ["d"])
    removed = [a["remove"]["path"] for a in t.history()[-1]
               if "remove" in a]
    assert removed and all(p.startswith("y=1995/") for p in removed)
    staged = [a["add"]["path"] for a in t.history()[-1] if "add" in a]
    assert all(p.startswith("y=1995/") for p in staged)
    assert {r["k"] for r in t.read().collect()} == {1, 2, 4, 5, 6}
    # merge on the base column: candidate probe stays in-year too
    t.merge_upsert(_days(spark, [(4, "1995-11-11", 99)]), ["d"],
                   update=True)
    touched = [a["remove"]["path"] for a in t.history()[-1]
               if "remove" in a]
    assert touched and all(p.startswith("y=1995/") for p in touched)
    assert {r["v"] for r in t.read().collect()
            if r["k"] == 4} == {99}


def _heavy_test_generated_month_bounds_cross_unit(spark, tmp_path):
    """Regression (ADVICE r14, high): a keyed-DML batch spanning
    2023-03-05..2024-03-10 has month(lo)==month(hi)==3 but covers every
    month in between — deriving m∈[3,3] from the compressed [lo,hi]
    range pruned partitions (e.g. m=8) holding in-range rows, so
    deletes silently skipped and merges double-inserted. Non-monotone
    calendar bounds may derive only when lo and hi share the ENCLOSING
    unit (same year+month for month)."""
    p = str(tmp_path / "m")
    rows = _days(spark, [(1, "2023-03-05", 10), (2, "2023-08-15", 20),
                         (3, "2024-03-10", 30)])
    t = TxTable.create(spark, rows, p, stat_cols=["k", "d"],
                       partition_cols=["m"], generated={"m": "month(d)"})
    # delete keyed on the base column, batch bounds straddle two years:
    # month 8's row MUST be found (the buggy derived bound skipped it)
    t.delete(rows.select("d"), ["d"])
    assert t.read().count() == 0
    # merge with the same straddling bounds must update, not duplicate
    t2 = TxTable.create(
        spark, rows, str(tmp_path / "m2"), stat_cols=["k", "d"],
        partition_cols=["m"], generated={"m": "month(d)"})
    t2.merge_upsert(rows.withColumn("v", rows.v + 1), ["d"], update=True)
    assert sorted((r["k"], r["v"]) for r in t2.read().collect()) == \
        [(1, 11), (2, 21), (3, 31)]
    # a window INSIDE one enclosing unit still derives: the keyed
    # delete touches only that month's partition files
    t2.delete(_days(spark, [(1, "2023-03-05", 0),
                            (9, "2023-03-20", 0)]).select("d"), ["d"])
    removed = [a["remove"]["path"] for a in t2.history()[-1]
               if "remove" in a]
    assert removed and all(f.startswith("m=3/") for f in removed)


def _heavy_test_generated_pruning_in_v2_reader(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual
    from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
        TxLogBatchReader)
    t = _gen_table(spark, tmp_path)
    n_all = len(t.live_files())
    r = TxLogBatchReader({"path": t.path})
    list(r.pushFilters([EqualTo(("d",), datetime.date(1995, 3, 7))]))
    pruned = r.partitions()
    assert 0 < len(pruned) < n_all
    assert all("/y=1995/" in p.file_path for p in pruned)
    # range predicate on the base derives an inclusive bound on y
    r2 = TxLogBatchReader({"path": t.path})
    list(r2.pushFilters([GreaterThanOrEqual(
        ("d",), datetime.date(1996, 1, 1))]))
    p2 = r2.partitions()
    assert p2 and all("/y=1996/" in p.file_path for p in p2)
    # and the full scan through Spark still answers correctly
    register(spark)
    df = (spark.read.format("txlog").option("path", t.path).load()
          .filter("d >= date'1996-01-01'"))
    assert {row["k"] for row in df.collect()} == {5, 6}


def _heavy_test_date_stat_pruning_now_fires(spark, tmp_path):
    """Regression: pushed DATE literals arrive as datetime.date while
    stats store isoformat strings — before the normalizer the compare
    raised TypeError and every date filter scanned every file."""
    from pyspark.sql.datasource import LessThan
    from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
        TxLogBatchReader)
    p = str(tmp_path / "dates")
    t = TxTable.create(
        spark, _days(spark, _ROWS).repartition(3, "k"), p,
        stat_cols=["d"])
    r = TxLogBatchReader({"path": p})
    list(r.pushFilters([LessThan(("d",), datetime.date(1800, 1, 1))]))
    assert r.partitions() == []  # provably nothing can match


def test_timestamp_spelling_canonicalized_in_overlaps():
    """The 'T'-vs-space timestamp spelling split (isoformat stats vs
    hive partitionValues) mis-ordered equal instants; _overlaps must
    canonicalize both sides."""
    add = {"partitionValues": {"ts": "2021-06-01 00:00:00"}}
    bounds = {"ts": ("2021-06-01T00:00:00", "2021-06-01T00:00:00")}
    assert TxTable._overlaps(add, ["ts"], bounds)
    off = {"ts": ("2021-06-02T00:00:00", "2021-06-03T00:00:00")}
    assert not TxTable._overlaps(add, ["ts"], off)


def _heavy_test_identity_assignment_and_hwm(spark, tmp_path):
    p = str(tmp_path / "ident")
    df = spark.createDataFrame([(c,) for c in "abcdef"], "tag string")
    t = TxTable.create(spark, df.repartition(3), p,
                       identity={"id": {"start": 100, "step": 3}})
    rows = t.read().collect()
    ids = sorted(r["id"] for r in rows)
    assert len(set(ids)) == 6 and min(ids) >= 100
    assert all((i - 100) % 3 == 0 for i in ids)
    _, meta, _ = t._snapshot()
    assert meta["identity"]["id"]["hwm"] == max(ids)
    # appends keep allocating ABOVE the committed high-water mark
    t.append(spark.createDataFrame([("g",), ("h",)], "tag string"))
    ids2 = sorted(r["id"] for r in t.read().collect())
    assert len(set(ids2)) == 8
    assert min(set(ids2) - set(ids)) > max(ids)
    _, meta, _ = t._snapshot()
    assert meta["identity"]["id"]["hwm"] == max(ids2)
    # GENERATED ALWAYS: providing the column refuses, everywhere
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(spark.createDataFrame([(1, "x")], "id long, tag string"))
    with pytest.raises(ValueError, match="cannot be provided"):
        t.merge_upsert(spark.createDataFrame([(1, "z")],
                                             "id long, tag string"),
                       ["tag"])
    with pytest.raises(ValueError, match="merge keys"):
        t.merge_upsert(spark.createDataFrame([("z",)], "tag string"),
                       ["id"])
    with pytest.raises(ValueError, match="generated/identity"):
        t.update("tag = 'a'", {"id": "0"})
    # MERGE works natively (beyond the vendor Delta restriction):
    # first-wins drops the matched key, allocates for the insert only
    before = {r["tag"]: r["id"] for r in t.read().collect()}
    t.merge_upsert(spark.createDataFrame([("a",), ("z1",)],
                                         "tag string"), ["tag"])
    after = {r["tag"]: r["id"] for r in t.read().collect()}
    assert after["a"] == before["a"] and after["z1"] > max(before.values())
    assert len(set(after.values())) == len(after)
    # deletes keep survivors' ids; overwrite reallocates past the hwm
    t.delete(spark.createDataFrame([("a",)], "tag string"), ["tag"])
    assert t.read().count() == 8  # 8 appends + z1 insert - a
    v_hwm = meta["identity"]["id"]["hwm"]
    t.overwrite(spark.createDataFrame([("zz",)], "tag string"))
    (row,) = t.read().collect()
    assert row["id"] > v_hwm
    # fsck audits the hwm against live stats (log-only, zero jobs):
    # a lost bump would re-allocate ids already on disk
    rep = t.fsck(scan_orphans=False)
    assert rep["ok"] and "identity_hwm_violations" not in rep
    rv, meta, _ = t._snapshot()
    bad = dict(meta)
    bad["identity"] = {"id": {"start": 100, "step": 3, "hwm": 0}}
    t._commit([{"meta": bad}], rv, info={"op": "corrupt_hwm"})
    rep = t.fsck(scan_orphans=False)
    assert not rep["ok"] and rep["identity_hwm_violations"]


def _heavy_test_identity_merge_update_keeps_ids(spark, tmp_path):
    """update=True MERGE on an identity table: matched rows KEEP their
    engine-assigned ids through the copy-on-write rewrite, inserts
    allocate fresh ones, the hwm advances in the same commit."""
    p = str(tmp_path / "ident_merge")
    t = TxTable.create(
        spark, spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3)], "k string, v long")
        .repartition(2),
        p, stat_cols=["k"], identity={"rid": {"start": 1, "step": 1}})
    before = {r["k"]: r["rid"] for r in t.read().collect()}
    t.merge_upsert(spark.createDataFrame(
        [("b", 20), ("d", 40)], "k string, v long"), ["k"],
        update=True)
    rows = {r["k"]: (r["v"], r["rid"]) for r in t.read().collect()}
    assert rows["b"][0] == 20 and rows["b"][1] == before["b"]  # kept id
    assert rows["a"] == (1, before["a"]) and rows["c"] == (3, before["c"])
    assert rows["d"][0] == 40 and rows["d"][1] > max(before.values())
    rids = [rid for _v, rid in rows.values()]
    assert len(set(rids)) == 4
    _, meta, _ = t._snapshot()
    assert meta["identity"]["rid"]["hwm"] == max(rids)
    assert t.fsck(scan_orphans=False)["ok"]


def _heavy_test_identity_concurrent_append_conflicts(spark, tmp_path):
    p = str(tmp_path / "ident_race")
    t = TxTable.create(spark, spark.createDataFrame([("a",)],
                                                    "tag string"),
                       p, identity={"id": {"start": 1, "step": 1}})
    racer = TxTable(spark, p)
    orig = t._io.write

    def inject(name, data, replace=False):
        if not getattr(t, "_raced", False):
            t._raced = True
            racer.append(spark.createDataFrame([("r",)], "tag string"))
        return orig(name, data, replace)

    t._io.write = inject
    try:
        with pytest.raises(TxConflict, match="metadata"):
            t.append(spark.createDataFrame([("b",)], "tag string"))
    finally:
        t._io.write = orig
    # the racer's allocation landed; ids stay unique after our retry
    t.append(spark.createDataFrame([("b",)], "tag string"))
    ids = [r["id"] for r in t.read().collect()]
    assert len(ids) == len(set(ids)) == 3


def _heavy_test_append_only_property(spark, tmp_path):
    p = str(tmp_path / "ao")
    t = TxTable.create(
        spark, spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        p, stat_cols=["k"], properties={"appendOnly": True})
    t.append(spark.createDataFrame([(3, 30)], "k long, v long"))
    t.merge_upsert(spark.createDataFrame([(3, 99), (4, 40)],
                                         "k long, v long"), ["k"])
    assert {(r["k"], r["v"]) for r in t.read().collect()} \
        == {(1, 10), (2, 20), (3, 30), (4, 40)}  # insert-only kept 3
    one = spark.createDataFrame([(1,)], "k long")
    for op in (lambda: t.delete(one, ["k"]),
               lambda: t.delete(one, ["k"], mode="dv"),
               lambda: t.update("k = 1", {"v": "0"}),
               lambda: t.overwrite(spark.createDataFrame(
                   [(9, 90)], "k long, v long")),
               lambda: t.merge_upsert(spark.createDataFrame(
                   [(1, 0)], "k long, v long"), ["k"], update=True)):
        with pytest.raises(ValueError, match="append-only"):
            op()
    assert t.optimize(target_rows=10) >= 0  # layout-only stays legal
    # V2 writer: appends pass, overwrite refuses
    register(spark)
    df = spark.createDataFrame([(5, 50)], "k long, v long")
    df.write.format("txlog").option("path", p).mode("append").save()
    with pytest.raises(Exception, match="append-only"):
        (df.write.format("txlog").option("path", p)
         .mode("overwrite").save())
    # unsetting the property re-enables rewrites
    t.alter_properties(unset=["appendOnly"])
    t.delete(one, ["k"])
    assert {r["k"] for r in t.read().collect()} == {2, 3, 4, 5}


def _heavy_test_checkpoint_interval_property(spark, tmp_path):
    p = str(tmp_path / "ckpt")
    t = TxTable.create(
        spark, spark.createDataFrame([(1,)], "k long"), p,
        properties={"checkpointInterval": 2})
    for i in range(2, 6):
        t.append(spark.createDataFrame([(i,)], "k long"))
    assert {2, 4} <= set(t._checkpoint_versions())
    with pytest.raises(ValueError, match="checkpointInterval"):
        t.alter_properties({"checkpointInterval": 0})
    # the DataSource writer publishes through the same loop: same cadence
    p2 = str(tmp_path / "ckpt_v2")
    t2 = TxTable.create(
        spark, spark.createDataFrame([(1,)], "k long"), p2,
        properties={"checkpointInterval": 2})
    register(spark)
    for i in range(2, 6):
        (spark.createDataFrame([(i,)], "k long").write.format("txlog")
         .option("path", p2).mode("append").save())
    assert t2.version == 4
    assert {2, 4} <= set(t2._checkpoint_versions())


def _heavy_test_writer5_protocol_gate_and_v2_writer(spark, tmp_path):
    from meteomatics_e2e_data_pipeline_spark.operators import txproto
    from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
        TxLogBatchWriter)
    t = _gen_table(spark, tmp_path, name="gate")
    t._snapshot()  # create() publishes without folding; fold sets _proto
    assert t._proto["minWriter"] == 5 and t._proto["minReader"] == 2
    with pytest.raises(txproto.TxProtocolError, match="minWriter"):
        txproto.check_protocol(t._proto, t.path, writer=4)
    # identity tables refuse the V2 writer outright
    pi = str(tmp_path / "ident_v2")
    TxTable.create(spark, spark.createDataFrame([("a",)], "tag string"),
                   pi, identity={"id": {"start": 1, "step": 1}})
    from pyspark.sql.types import StructType
    with pytest.raises(ValueError, match="engine-assigned"):
        TxLogBatchWriter({"path": pi}, StructType(), overwrite=False)
    # generated tables: the V2 writer VALIDATES provided values
    register(spark)
    ok = spark.createDataFrame(
        [(9, datetime.date(1994, 4, 4), 90, 1994)],
        "k long, d date, v long, y int")
    ok.write.format("txlog").option("path", t.path).mode("append").save()
    bad = ok.withColumn("y", ok.y + 7)
    with pytest.raises(Exception, match="generated:y"):
        (bad.write.format("txlog").option("path", t.path)
         .mode("append").save())
    assert t.read().filter("k = 9").count() == 1


def _heavy_test_generated_identity_colmap_guards(spark, tmp_path):
    t2 = TxTable.create(
        spark, _days(spark, _ROWS), str(tmp_path / "cm"),
        generated={"ym": "substring(cast(d as string), 1, 7)"})
    with pytest.raises(ValueError, match="generated"):
        t2.rename_column("d", "day")   # base of a generated expr
    with pytest.raises(ValueError, match="generated"):
        t2.drop_column("ym")           # the generated column itself
    ti = TxTable.create(
        spark, spark.createDataFrame([("a",)], "tag string"),
        str(tmp_path / "cmi"), identity={"id": {"start": 1, "step": 1}})
    with pytest.raises(ValueError, match="identity"):
        ti.rename_column("id", "rowid")
    ti.rename_column("tag", "label")   # unrelated columns still rename
    assert [f.name for f in ti.schema().fields] == ["label", "id"]


def _heavy_test_optimize_partition_scoped(spark, tmp_path):
    t = _gen_table(spark, tmp_path, name="opt")
    # several small appends into every year-partition
    for i in range(3):
        t.append(_days(spark, [(100 + i, "1994-03-01", 1),
                               (200 + i, "1995-03-01", 1)]))
    files_before = t.live_files()
    y95 = [p for p in files_before if p.startswith("y=1995/")]
    other = sorted(p for p in files_before if not p.startswith("y=1995/"))
    assert len(y95) >= 3
    v = t.optimize(target_rows=1000, partition_values={"y": 1995})
    assert v > 0
    files_after = t.live_files()
    assert sorted(p for p in files_after
                  if not p.startswith("y=1995/")) == other  # untouched
    assert len([p for p in files_after
                if p.startswith("y=1995/")]) < len(y95)
    with pytest.raises(ValueError):
        t.optimize(partition_values={"y": "not-a-year"})


def _heavy_test_describe_history_metrics(spark, tmp_path):
    p = str(tmp_path / "hist")
    t = TxTable.create(
        spark, spark.createDataFrame([(i, i * 10) for i in range(8)],
                                     "k long, v long"),
        p, stat_cols=["k"])
    t.append(spark.createDataFrame([(100, 1), (101, 1)],
                                   "k long, v long"))
    t.delete(spark.createDataFrame([(0,), (1,)], "k long"), ["k"])
    t.delete(spark.createDataFrame([(2,)], "k long"), ["k"], mode="dv")
    t.optimize(target_rows=1000)
    hist = {h["version"]: h for h in t.describe_history()}
    assert hist[0]["rows_added"] == 8 and hist[0]["rows_removed"] == 0
    assert hist[1]["rows_added"] == 2
    # cow delete: the rewritten file's survivors come back as adds,
    # the removed file prices at its recorded numRecords
    assert (hist[2]["rows_removed"] - hist[2]["rows_added"]) == 2
    assert hist[3]["rows_tombstoned"] == 1 and hist[3]["n_adds"] == 0
    assert hist[4]["operation"] == "optimize"
    assert hist[4]["rows_added"] == 0 and hist[4]["rows_removed"] == 0


def _heavy_test_in_commit_timestamps(spark, tmp_path):
    import os
    import time as _time
    p = str(tmp_path / "ict")
    t = TxTable.create(spark, spark.createDataFrame([(1,)], "k long"),
                       p, properties={"inCommitTimestamps": True})
    marks = []
    for i in range(2, 5):
        _time.sleep(0.05)
        marks.append(_time.time())
        _time.sleep(0.05)
        t.append(spark.createDataFrame([(i,)], "k long"))
    ts = [t._commit_ts(v) for v in range(1, t.version + 1)]
    assert all(a < b for a, b in zip(ts, ts[1:]))  # strictly monotone
    # recorded timestamps win over mtimes: nuking every mtime to epoch
    # must not change resolution (the log survived a copy/rsync)
    for f in os.listdir(t.log_dir):
        os.utime(os.path.join(t.log_dir, f), (0, 0))
    # marks[1] was taken between v1's and v2's publishes
    assert t.version_at(marks[1]) == 1
    assert {r["k"] for r in t.read(
        version=t.version_at(marks[2])).collect()} == {1, 2, 3}
    # the plain-IO twin honors the property the same way
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        LocalLogIO, version_at)
    assert version_at(LocalLogIO(p), marks[1]) == 1
    # a DataSource append gets the same clamp: with txproto's clock (in
    # this thread; the pooled bodies share the module) an hour behind
    # the parent commit's ts, the recorded ts still moves strictly up
    import threading

    from meteomatics_e2e_data_pipeline_spark.operators import txproto
    from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
        TxLogBatchWriter)
    parent = t._commit_ts(t.version)
    w = TxLogBatchWriter({"path": p}, t.schema(), overwrite=False)
    msg = w.write(iter([(9,)]))
    me, real = threading.get_ident(), txproto.time

    class _Behind:
        def __getattr__(self, name):
            return getattr(real, name)

        def time(self):
            return (parent - 3600.0 if threading.get_ident() == me
                    else real.time())

    txproto.time = _Behind()
    try:
        w.commit([msg])
    finally:
        txproto.time = real
    assert t._commit_ts(t.version) > parent


def _heavy_test_ict_enablement_not_retroactive(spark, tmp_path):
    """Regression (ADVICE r14, low): enabling inCommitTimestamps must
    not shift time-travel resolution for commits published BEFORE the
    property was on — their recorded ts is plan-time wall clock, never
    publish-clamped; mtime stays their commit timestamp (Delta's
    ictEnablementVersion rule)."""
    import os
    p = str(tmp_path / "ict2")
    t = TxTable.create(spark, spark.createDataFrame([(1,)], "k long"), p)
    t.append(spark.createDataFrame([(2,)], "k long"))           # v1
    # pin the pre-ICT timeline via mtimes (v0 @100s, v1 @200s)
    for f in os.listdir(t.log_dir):
        if f.endswith(".json") and f[:-5].isdigit():
            v = int(f[:-5])
            if v <= 1:
                m = 100.0 + 100.0 * v
                os.utime(os.path.join(t.log_dir, f), (m, m))
    t.alter_properties({"inCommitTimestamps": True})            # v2
    t.append(spark.createDataFrame([(3,)], "k long"))           # v3
    # pre-enablement commits resolve by mtime (the buggy retroactive
    # preference used their ~now plan-time ts and raised here)
    assert t.version_at(150.0) == 0
    assert t.version_at(250.0) == 1
    # post-enablement commits resolve by their clamped recorded ts
    assert t.version_at(t._commit_ts(3)) == 3
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        LocalLogIO, version_at)
    assert version_at(LocalLogIO(p), 150.0) == 0
    assert version_at(LocalLogIO(p), 250.0) == 1


def _heavy_test_auto_compact_property(spark, tmp_path):
    p = str(tmp_path / "ac")
    t = TxTable.create(
        spark, spark.createDataFrame([(0, 0)], "k long, v long"), p,
        stat_cols=["k"],
        properties={"autoCompact": True, "autoCompactMinFiles": 4,
                    "autoCompactTargetRows": 10_000})
    for i in range(1, 5):
        t.append(spark.createDataFrame([(i, i)], "k long, v long")
                 .coalesce(1))
    # the threshold-crossing append triggered a best-effort OPTIMIZE
    assert len(t.live_files()) < 4
    assert any(h["operation"] == "optimize"
               for h in t.describe_history())
    assert {r["k"] for r in t.read().collect()} == set(range(5))


def _heavy_test_per_commit_cdf_update_images(spark, tmp_path):
    p = str(tmp_path / "cdf")
    t = TxTable.create(
        spark, spark.createDataFrame(
            [(i, i * 10, "x") for i in range(8)],
            "k long, v long, tag string").repartition(2),
        p, stat_cols=["k"])
    # v1: merge that UPDATES k=1,2 and INSERTS k=100
    t.merge_upsert(spark.createDataFrame(
        [(1, 111, "x"), (2, 222, "x"), (100, 1000, "n")],
        "k long, v long, tag string"), ["k"], update=True)
    # v2: dv delete of k=3; v3: cow delete of k=4
    t.delete(spark.createDataFrame([(3,)], "k long"), ["k"], mode="dv")
    t.delete(spark.createDataFrame([(4,)], "k long"), ["k"])
    feed = t.read_changes_per_commit(0, update_images_for=["k"])
    rows = {(r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in feed.collect()}
    assert rows == {
        (1, "update_preimage", 1, 10), (1, "update_postimage", 1, 111),
        (1, "update_preimage", 2, 20), (1, "update_postimage", 2, 222),
        (1, "insert", 100, 1000),
        (2, "delete", 3, 30),
        (3, "delete", 4, 40),
    }  # carried rows cancelled in-commit; versions attributed exactly
    # without pairing, the same window reads as plain inserts/deletes
    plain = t.read_changes_per_commit(0, 1)
    tags = {(r["_change_type"], r["k"]) for r in plain.collect()}
    assert tags == {("insert", 1), ("insert", 2), ("insert", 100),
                    ("delete", 1), ("delete", 2)}
    # optimize stays silent in the per-commit feed too
    t.optimize(target_rows=1000)
    assert t.read_changes_per_commit(3).count() == 0


def _heavy_test_repartition_races_concurrent_append(spark, tmp_path):
    """repartition_table reads the WHOLE table, so any concurrent data
    commit must conflict — never silently drop the racer's rows."""
    p = str(tmp_path / "race")
    t = TxTable.create(spark, _days(spark, _ROWS), p,
                       stat_cols=["k"], generated={"y": "year(d)"})
    racer = TxTable(spark, p)
    orig = t._io.write

    def inject(name, data, replace=False):
        if not getattr(t, "_raced", False):
            t._raced = True
            racer.append(_days(spark, [(99, "1997-01-01", 990)]))
        return orig(name, data, replace)

    t._io.write = inject
    try:
        with pytest.raises(TxConflict, match="repartition"):
            t.repartition_table(["y"])
    finally:
        t._io.write = orig
    # the racer's append survived; a clean retry lands the new layout
    assert {r["k"] for r in t.read().collect()} \
        == {1, 2, 3, 4, 5, 6, 99}
    t.repartition_table(["y"])
    assert all(f.startswith("y=") for f in t.live_files())
    assert t.read().count() == 7
    assert t.fsck(verify_row_counts=True)["ok"]


def _heavy_test_stream_sink_into_generated_table(spark, tmp_path):
    """Streaming ingest INTO a generated-partitioned table: the V2
    stream sink validates the provided generated values per-chunk (the
    batch-writer delegation), stages into the year partitions, and a
    feed violating the generation expression fails the micro-batch
    loudly instead of committing."""
    from meteomatics_e2e_data_pipeline_spark.sources import txlog_batch
    txlog_batch.register(spark)
    t = _gen_table(spark, tmp_path, name="sgen")
    feed = _days(spark, [(50, "1994-05-05", 500),
                         (51, "1995-06-06", 510)]) \
        .withColumn("y", F.expr("year(d)"))
    src = str(tmp_path / "sgen_src")
    feed.coalesce(1).write.parquet(src)
    q = (spark.readStream.schema(feed.schema).parquet(src)
         .writeStream.format("txlog").option("path", t.path)
         .option("txnAppId", "gen_sink")
         .option("checkpointLocation", str(tmp_path / "sgen_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["k"], r["y"]) for r in t.read().collect()}
    assert {(50, 1994), (51, 1995)} <= got
    files = [f for f in t.live_files()]
    assert any(f.startswith("y=1994/") for f in files)
    # a feed with WRONG generated values fails the batch, commits nothing
    bad = feed.withColumn("y", F.col("y") + 3)
    src2 = str(tmp_path / "sgen_bad")
    bad.coalesce(1).write.parquet(src2)
    v0 = t.version
    q2 = (spark.readStream.schema(feed.schema).parquet(src2)
          .writeStream.format("txlog").option("path", t.path)
          .option("txnAppId", "gen_sink_bad")
          .option("checkpointLocation", str(tmp_path / "sgen_ck2"))
          .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="generated:y"):
        q2.awaitTermination(120)
    assert t.version == v0 and t.fsck(scan_orphans=True)[
        "unreferenced_files"] == []


def _heavy_test_repartition_table_layout_only(spark, tmp_path):
    """repartition_table: the partition layout changes in ONE
    layout-only commit — rows identical, CDC silent, time travel reads
    the old layout, pruning (incl. derived generated bounds) works on
    the new one, and live deletion vectors materialize away."""
    p = str(tmp_path / "repart")
    t = TxTable.create(
        spark, _days(spark, _ROWS), p, stat_cols=["k", "d"],
        generated={"y": "year(d)"})  # y is a plain data column so far
    assert not any("/" in f for f in t.live_files())
    t.delete(spark.createDataFrame([(2,)], "k long"), ["k"], mode="dv")
    before = {tuple(r) for r in t.read().collect()}
    v_flat = t.version
    v = t.repartition_table(["y"])
    assert v == v_flat + 1
    assert {tuple(r) for r in t.read().collect()} == before
    assert all(f.startswith("y=") for f in t.live_files())
    assert t.detail()["dv_files"] == 0            # DVs materialized
    assert t.read_changes_per_commit(v_flat).count() == 0  # CDC silent
    # whole-history fold: (0, latest] nets to exactly the dv delete —
    # the layout swap contributed nothing
    ch = {(r["_change_type"], r["k"])
          for r in t.read_changes(0).collect()}
    assert ch == {("delete", 2)}
    # time travel: the pre-change snapshot reads the FLAT layout
    assert {tuple(r) for r in t.read(version=v_flat).collect()} == before
    # derived pruning fires on the new layout: base-keyed delete stays
    # inside the matching year's partition
    t.delete(spark.createDataFrame(
        [(datetime.date(1995, 3, 7),)], "d date"), ["d"])
    touched = [a["remove"]["path"] for a in t.history()[-1]
               if "remove" in a]
    assert touched and all(f.startswith("y=1995/") for f in touched)
    # protocol upgraded with first partitioning; back to flat works too
    assert t._proto["minReader"] >= 2
    t.repartition_table([])
    assert not any("/" in f for f in t.live_files())
    assert t.read().count() == len(before) - 1
    assert t.fsck(verify_row_counts=True)["ok"]
    # CDF across the partitioned→flat swap resolves each commit's era
    # meta (ADVICE r14, medium): the y=1995-era delete's rows carry
    # their REAL y value — scanning old-era files with the flat
    # to-version meta used to null-fill the old partition column,
    # breaking the fold invariant
    from collections import Counter
    ch2 = Counter((r["_change_type"], r["k"], r["y"])
                  for r in t.read_changes(0).collect())
    assert all(y is not None for _, _, y in ch2)  # no null-filled eras
    assert ch2[("delete", 2, 1994)] == 1
    assert ch2[("delete", 3, 1995)] == 1
    # the copy-on-write rewrite's carried row keeps its real y on BOTH
    # sides (cancels under the consumer's multiset fold)
    assert ch2[("insert", 4, 1995)] == ch2[("delete", 4, 1995)] == 1
    pc = {(r["_change_type"], r["k"], r["y"])
          for r in t.read_changes_per_commit(0).collect()}
    assert pc == {("delete", 2, 1994), ("delete", 3, 1995)}
    with pytest.raises(ValueError, match="not in schema"):
        t.repartition_table(["nope"])
    # a renamed (column-mapped) column cannot become a partition
    # column: partition columns are encoded by NAME in paths
    t.rename_column("v", "val")
    with pytest.raises(ValueError, match="renamed"):
        t.repartition_table(["val"])


# ---------------------------------------------------------------------------
# Randomized equivalence: a GENERATED-partitioned table and a flat twin
# (same generated column, no partitioning) answer every DML sequence
# identically. This is the broadest guard on the derived-bound pruning
# (_extend_generated_bounds): a wrong derived bound would make a keyed
# planner SKIP files holding matching rows — silent divergence, caught
# here by the multiset compare after every op.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402


def _gmultiset(df):
    from collections import Counter
    return Counter(map(tuple, df.collect()))


def _gen_rows(spark, lo, hi, mul=2):
    # d spreads k over ~4 year-partitions, distinct per k
    return (spark.range(lo, hi).selectExpr(
        "id as k",
        "date_add(date'1994-01-01', cast((id * 37) % 1400 as int)) as d",
        f"id*{mul} as v").coalesce(1))


def _gen_twin_apply(spark, part, flat, op):
    kind, lo, hi, mul = op
    if kind == "append":
        batch = _gen_rows(spark, lo, hi, mul)
        part.merge_upsert(batch, ["k"])      # first-wins on both
        flat.merge_upsert(batch, ["k"])
    elif kind == "merge_d":
        # keyed on the BASE column: exercises the derived y-bounds
        batch = _gen_rows(spark, lo, hi, mul)
        part.merge_upsert(batch, ["d"], update=True)
        flat.merge_upsert(batch, ["d"], update=True)
    elif kind == "delete_d":
        keys = _gen_rows(spark, lo, hi).select("d")
        part.delete(keys, ["d"])
        flat.delete(keys, ["d"])
    elif kind == "dv_delete":
        keys = spark.range(lo, hi).selectExpr("id as k")
        part.delete(keys, ["k"], mode="dv")
        flat.delete(keys, ["k"])
    elif kind == "update":
        part.update(f"k >= {lo}", {"v": f"v + {mul}"})
        flat.update(f"k >= {lo}", {"v": f"v + {mul}"})
    elif kind == "replace_part":
        y = 1994 + (lo % 4)
        new = (part.read(partition_values={"y": y})
               .withColumn("v", F.col("v") * mul)
               .localCheckpoint(eager=True))
        part.overwrite_partitions(new, {"y": y})
        old_keys = (flat.read().filter(F.col("y") == y)
                    .select("k").localCheckpoint(eager=True))
        flat.delete(old_keys, ["k"])
        if not new.isEmpty():
            flat.append(new)
    else:  # optimize
        part.optimize(target_rows=1_000_000)
        flat.optimize(target_rows=1_000_000)


def _gen_twin_race(spark, base, ops):
    gen = {"y": "year(d)"}
    part = TxTable.create(spark, _gen_rows(spark, 0, 12),
                          f"{base}/part", stat_cols=["k", "d"],
                          partition_cols=["y"], generated=gen)
    flat = TxTable.create(spark, _gen_rows(spark, 0, 12),
                          f"{base}/flat", stat_cols=["k", "d"],
                          generated=gen)
    for op in ops:
        _gen_twin_apply(spark, part, flat, op)
        assert _gmultiset(part.read()) == _gmultiset(flat.read()), op
        assert all(p.startswith("y=") for p in part.live_files())
    assert part.fsck(verify_row_counts=True)["ok"]
    assert flat.fsck(verify_row_counts=True)["ok"]


def _heavy_test_generated_twin_exemplar(spark, tmp_path):
    """Fixed exemplar in the default lane: base-keyed merge (derived
    y-bounds), base-keyed cow delete, dv tombstones, replaceWhere on
    the generated partition, compaction. The full randomized mix runs
    in the slow-lane property below."""
    ops = [("merge_d", 5, 15, 7), ("delete_d", 8, 11, 1),
           ("dv_delete", 2, 4, 1), ("replace_part", 0, 0, 3),
           ("optimize", 0, 0, 1)]
    _gen_twin_race(spark, str(tmp_path), ops)


import pytest as _pytest  # noqa: E402

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as hs

    _GEN_OP = hs.tuples(
        hs.sampled_from(["append", "merge_d", "delete_d", "dv_delete",
                         "update", "replace_part", "optimize"]),
        hs.integers(min_value=0, max_value=30),
        hs.integers(min_value=1, max_value=12),
        hs.integers(min_value=1, max_value=9),
    ).map(lambda o: (o[0], o[1], o[1] + o[2], o[3]))

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(hs.data())
    def test_generated_dml_equals_flat_twin_property(spark, data):
        """Randomized 3-5 op sequences over the generated-partitioned
        table and its flat twin (slow lane; exemplar above is the
        default-lane pin)."""
        import tempfile

        ops = data.draw(hs.lists(_GEN_OP, min_size=3, max_size=5))
        with tempfile.TemporaryDirectory(prefix="gtwin_") as base:
            _gen_twin_race(spark, base, ops)
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


_POOLED = {n: fn for n, fn in [
    ("test_generated_compute_validate_and_update",
     _heavy_test_generated_compute_validate_and_update),
    ("test_generated_partition_pruning_in_dml",
     _heavy_test_generated_partition_pruning_in_dml),
    ("test_generated_month_bounds_cross_unit",
     _heavy_test_generated_month_bounds_cross_unit),
    ("test_generated_pruning_in_v2_reader",
     _heavy_test_generated_pruning_in_v2_reader),
    ("test_date_stat_pruning_now_fires",
     _heavy_test_date_stat_pruning_now_fires),
    ("test_identity_assignment_and_hwm",
     _heavy_test_identity_assignment_and_hwm),
    ("test_identity_merge_update_keeps_ids",
     _heavy_test_identity_merge_update_keeps_ids),
    ("test_identity_concurrent_append_conflicts",
     _heavy_test_identity_concurrent_append_conflicts),
    ("test_append_only_property",
     _heavy_test_append_only_property),
    ("test_checkpoint_interval_property",
     _heavy_test_checkpoint_interval_property),
    ("test_writer5_protocol_gate_and_v2_writer",
     _heavy_test_writer5_protocol_gate_and_v2_writer),
    ("test_generated_identity_colmap_guards",
     _heavy_test_generated_identity_colmap_guards),
    ("test_optimize_partition_scoped",
     _heavy_test_optimize_partition_scoped),
    ("test_describe_history_metrics",
     _heavy_test_describe_history_metrics),
    ("test_in_commit_timestamps",
     _heavy_test_in_commit_timestamps),
    ("test_ict_enablement_not_retroactive",
     _heavy_test_ict_enablement_not_retroactive),
    ("test_auto_compact_property",
     _heavy_test_auto_compact_property),
    ("test_per_commit_cdf_update_images",
     _heavy_test_per_commit_cdf_update_images),
    ("test_generated_twin_exemplar",
     _heavy_test_generated_twin_exemplar),
    ("test_repartition_table_layout_only",
     _heavy_test_repartition_table_layout_only),
    ("test_stream_sink_into_generated_table",
     _heavy_test_stream_sink_into_generated_table),
    ("test_repartition_races_concurrent_append",
     _heavy_test_repartition_races_concurrent_append),
]}


@pytest.fixture(scope="module")
def features_pool(_heavy_pool):
    futs = {n: _heavy_pool["tests.test_txlog_features::" + n]
            for n in _POOLED}
    return {n: f.result() for n, f in futs.items()}


def _shim(name):
    def test(features_pool):
        ex = features_pool[name]
        if ex is not None:
            raise ex
    test.__name__ = name
    return test


for _n in _POOLED:
    globals()[_n] = _shim(_n)
del _n
