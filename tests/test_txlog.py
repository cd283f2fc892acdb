"""Transaction-log table (operators/txlog.py): the EXECUTED transactional
S8 tier — atomic MERGE, time travel, crash recovery, optimistic
concurrency, and stat-pruned copy-on-write (reference semantics:
``stg_weather_raw.sql:3-7`` Snowflake MERGE via dbt ``unique_key``)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from meteomatics_e2e_data_pipeline_spark.operators.incremental import \
    upsert_by_key
from meteomatics_e2e_data_pipeline_spark.operators.txlog import (
    TxConflict, TxTable)


def _kv(spark, lo, hi, mul=2, parts=4):
    return (spark.range(lo, hi)
            .selectExpr("id as k", f"id*{mul} as v").repartition(parts))


def _heavy_test_create_append_read_and_versions(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 100), p, stat_cols=["k"])
    assert t.version == 0
    assert t.read().count() == 100
    t.append(_kv(spark, 100, 150))
    assert t.version == 1
    assert t.read().count() == 150
    # time travel: v0 is still exactly the original 100 rows
    assert t.read(0).count() == 100
    assert t.read(0).agg(F.max("k")).collect()[0][0] == 99
    # reopening an existing table resolves the same snapshot
    assert TxTable(spark, p).read().count() == 150


def _heavy_test_schema_is_enforced_and_empty_table_readable(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.range(5).selectExpr("id as wrong"))
    t.overwrite(_kv(spark, 0, 0))  # empty overwrite → readable empty table
    assert t.read().count() == 0
    assert t.read().columns == ["k", "v"]
    assert t.read(0).count() == 10  # history intact


def _heavy_test_merge_first_wins_matches_parquet_tier(spark, tmp_path):
    """fmt='txlog' upsert ≡ fmt='parquet' upsert on the same batches —
    the two S8 tiers agree row-for-row (first-writer-wins)."""
    pq, tx = str(tmp_path / "pq"), str(tmp_path / "tx")
    batches = [_kv(spark, 0, 60, mul=2), _kv(spark, 40, 90, mul=5),
               _kv(spark, 80, 120, mul=9)]
    for b in batches:
        upsert_by_key(b, pq, ["k"], spark, fmt="parquet")
        upsert_by_key(b, tx, ["k"], spark, fmt="txlog")
    left = spark.read.parquet(pq)
    right = TxTable(spark, tx).read()
    assert left.count() == right.count() == 120
    assert (left.exceptAll(right).count() == 0
            and right.exceptAll(left).count() == 0)


def _heavy_test_merge_last_wins_rewrites_only_colliding_files(spark, tmp_path):
    """update=True: batch rows replace colliding keys; files with no
    colliding key survive untouched (copy-on-write is stat+probe pruned)."""
    p = str(tmp_path / "t")
    # 8 range-partitioned files over k∈[0,800) → tight per-file k ranges
    base = (spark.range(0, 800).selectExpr("id as k", "id*2 as v")
            .repartitionByRange(8, "k"))
    t = TxTable.create(spark, base, p, stat_cols=["k"])
    before = set(t.live_files())
    t.merge_upsert(_kv(spark, 100, 120, mul=1000, parts=1), ["k"],
                   update=True)
    after = set(t.live_files())
    # narrow batch → most range files untouched
    assert len(before & after) >= len(before) - 2
    got = t.read()
    assert got.count() == 800
    assert got.filter("k = 110").collect()[0]["v"] == 110_000
    assert got.filter("k = 500").collect()[0]["v"] == 1000
    # the exact final state equals the last-wins oracle
    oracle = (spark.range(0, 800)
              .selectExpr("id as k",
                          "case when id between 100 and 119 "
                          "then id*1000 else id*2 end as v"))
    assert got.exceptAll(oracle).count() == 0
    assert oracle.exceptAll(got).count() == 0


def _heavy_test_stat_pruning_limits_collision_probe(spark, tmp_path):
    """The first-wins collision probe reads only stat-overlapping files."""
    p = str(tmp_path / "t")
    base = (spark.range(0, 800).selectExpr("id as k", "id*2 as v")
            .repartitionByRange(8, "k"))
    t = TxTable.create(spark, base, p, stat_cols=["k"])
    _, _, live = t._snapshot()
    _n, bounds = t._batch_bounds(_kv(spark, 100, 120, parts=1), ["k"])
    cand = t._candidate_files(live, ["k"], bounds)
    assert 1 <= len(cand) <= 2, cand  # 20-key batch hits ≤2 range files
    # every add action carries real stats
    for add in live.values():
        lo, hi = add["stats"]["k"]
        assert lo is not None and hi is not None and lo <= hi


def _heavy_test_crash_recovery_orphan_data_and_torn_commit(spark, tmp_path):
    """A data file with no committed add (crash between stage and commit)
    is invisible; a stray non-versioned temp file in the log dir is
    ignored. Readers only ever see complete versions."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 50, parts=1), p,
                       stat_cols=["k"])
    # orphan data file: write a parquet straight into the table root
    (spark.range(1000, 2000).selectExpr("id as k", "id as v")
     .coalesce(1).write.parquet(str(tmp_path / "orphan")))
    orphan = next(f for f in os.listdir(tmp_path / "orphan")
                  if f.endswith(".parquet"))
    os.rename(tmp_path / "orphan" / orphan,
              tmp_path / "t" / f"part-deadbeef-{orphan}")
    # torn commit attempt: an in-progress temp file in the log dir
    with open(tmp_path / "t" / "_txlog" / "00000000000000000001.json.tmp",
              "w") as fh:
        fh.write('{"add": {"path": "bogus.parquet"')
    assert t.read().count() == 50
    assert t.version == 0
    # the orphan is reclaimed by vacuum — but ONLY once it ages past the
    # retention window (a young unreferenced file may belong to an
    # in-flight writer that staged data before publishing its commit)
    assert t.vacuum() == []
    assert any("deadbeef" in f for f in t.vacuum(retention_seconds=0))


def test_concurrent_append_retries_and_conflicting_merge_raises(
        spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 50, parts=1), p,
                       stat_cols=["k"])
    # another writer claims version 1 (publishes an unrelated add-only
    # commit); our append must retry and land at version 2
    t2 = TxTable(spark, p)
    t2.append(_kv(spark, 200, 210, parts=1))
    claimed = t.version
    assert claimed == 1
    t.append(_kv(spark, 300, 310, parts=1))
    assert t.version == 2
    assert t.read().count() == 70
    # a rewriting merge whose read set was invalidated must raise:
    # capture the current snapshot, let a concurrent overwrite remove
    # every file, then try to commit removes planned on the old snapshot.
    rv, _, live = t._snapshot()
    stale_removes = [{"remove": {"path": f}} for f in sorted(live)]
    t2.overwrite(_kv(spark, 0, 5, parts=1))
    with pytest.raises(TxConflict):
        t._commit(stale_removes, rv)
    # overwrite's own validator rejects ANY intervening commit: replay
    # its actions against a read version that predates the overwrite
    from meteomatics_e2e_data_pipeline_spark.operators.txlog import \
        TxConflict as TC
    stale_rv = rv  # snapshot taken before t2's overwrite landed

    def no_concurrency(intervening):
        if intervening:
            raise TC("raced")
    with pytest.raises(TxConflict):
        t._commit([], stale_rv, validate=no_concurrency)


def _heavy_test_concurrent_overlapping_merge_conflicts(spark, tmp_path):
    """Two merges over the same key range cannot both win silently: the
    second to publish sees the first's overlapping add and raises."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 50, parts=1), p,
                       stat_cols=["k"])
    rv, meta, live = t._snapshot()
    # writer B lands a merge inserting keys 60..70 first
    TxTable(spark, p).merge_upsert(_kv(spark, 60, 70, parts=1), ["k"])
    # writer A planned an overlapping merge against the old snapshot;
    # replay its commit with A's staged adds and old read version
    batch = _kv(spark, 60, 70, mul=9, parts=1)
    _n, bounds = t._batch_bounds(batch, ["k"])
    adds = t._stage(batch, ["k"])

    def no_key_overlap(intervening):
        for a in intervening:
            if "add" in a and t._overlaps(a["add"], ["k"], bounds):
                raise TxConflict("overlap")
    with pytest.raises(TxConflict):
        t._commit(adds, rv, validate=no_key_overlap)
    # a DISJOINT merge against the same old snapshot commits fine
    t.merge_upsert(_kv(spark, 200, 205, parts=1), ["k"])
    assert t.read().filter("k >= 200").count() == 5


def _heavy_test_vacuum_removes_only_unreferenced_files(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 100), p, stat_cols=["k"])
    t.overwrite(_kv(spark, 0, 10, parts=1))
    live = set(t.live_files())
    assert t.vacuum() == []  # default retention protects young files
    deleted = set(t.vacuum(retention_seconds=0))
    assert deleted and not (deleted & live)
    assert t.read().count() == 10  # current version unaffected
    data_files = {f for f in os.listdir(tmp_path / "t")
                  if f.endswith(".parquet")}
    assert data_files == live


def _heavy_test_history_actions_are_auditable(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 20, parts=1), p,
                       stat_cols=["k"])
    t.merge_upsert(_kv(spark, 10, 30, mul=3, parts=1), ["k"], update=True)
    hist = t.history()
    assert len(hist) == 2
    # commit 0 leads with the protocol gate, then the table meta
    assert "protocol" in hist[0][0]
    assert "meta" in hist[0][1] and hist[0][1]["meta"]["stat_cols"] == ["k"]
    ops = {next(iter(a)) for a in hist[1]}
    assert ops == {"add", "remove", "info"}  # info = commit provenance
    # actions round-trip through JSON (the on-disk format IS json lines)
    for commit in hist:
        for action in commit:
            json.dumps(action)


def _multiset(df, cols=("k", "v")):
    from collections import Counter
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _heavy_test_read_changes_fold_invariant_and_windows(spark, tmp_path):
    """CDC between snapshots: for every (from, to) window,
    read(from) ⊎ inserts ∖ deletes == read(to) as multisets — through
    appends, insert-only merges, and copy-on-write update merges
    (where carried rows appear on both sides and cancel)."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 50), p, stat_cols=["k"])   # v0
    t.append(_kv(spark, 50, 60))                                       # v1
    t.merge_upsert(_kv(spark, 40, 55, mul=9, parts=1), ["k"],
                   update=True)                                        # v2
    t.merge_upsert(_kv(spark, 55, 70, mul=7, parts=1), ["k"])          # v3
    assert t.version == 3

    for from_v in range(0, 4):
        for to_v in range(from_v, 4):
            ch = t.read_changes(from_v, to_v)
            ins = _multiset(ch.filter("_change_type = 'insert'")
                            .drop("_change_type"))
            dels = _multiset(ch.filter("_change_type = 'delete'")
                             .drop("_change_type"))
            want = _multiset(t.read(version=to_v))
            got = _multiset(t.read(version=from_v)) + ins - dels
            assert got == want, (from_v, to_v)

    # empty window is an empty typed frame with the tag column
    empty = t.read_changes(2, 2)
    assert empty.count() == 0
    assert empty.columns == ["k", "v", "_change_type"]

    # the update merge's effect is visible row-level through the fold:
    # keys 40-49 changed value 2k -> 9k between v1 and v2
    ch12 = t.read_changes(1, 2)
    ins12 = _multiset(ch12.filter("_change_type = 'insert'"))
    assert all((k, 9 * k) in ins12 for k in range(40, 50))

    with pytest.raises(ValueError, match="out of range"):
        t.read_changes(2, 9)


def test_read_changes_drives_incremental_aggregate_maintenance(
        spark, tmp_path):
    """The CDC consumer story: a downstream aggregate advanced ONLY by
    the change feed equals the full recompute over the new snapshot."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 100), p, stat_cols=["k"])
    base_v = t.version
    agg0 = {r["b"]: r["s"] for r in
            t.read().groupBy((F.col("k") % 5).alias("b"))
            .agg(F.sum("v").alias("s")).collect()}
    t.append(_kv(spark, 100, 130))
    t.merge_upsert(_kv(spark, 90, 110, mul=11, parts=1), ["k"],
                   update=True)
    delta = (t.read_changes(base_v)
             .withColumn("sign", F.when(F.col("_change_type") == "insert",
                                        F.lit(1)).otherwise(F.lit(-1)))
             .groupBy((F.col("k") % 5).alias("b"))
             .agg(F.sum(F.col("v") * F.col("sign")).alias("d")))
    maintained = {r["b"]: agg0.get(r["b"], 0) + r["d"]
                  for r in delta.collect()}
    full = {r["b"]: r["s"] for r in
            t.read().groupBy((F.col("k") % 5).alias("b"))
            .agg(F.sum("v").alias("s")).collect()}
    assert maintained == full


def test_update_rewrites_only_matching_files_and_cdc_nets_changed_rows(
        spark, tmp_path):
    """UPDATE: SQL-expression assignments applied to condition-matching
    rows only; only files actually HOLDING a match are rewritten; a
    no-match condition publishes no commit; the CDC window nets to
    exactly (old matching rows out, updated rows in); assignments read
    OLD row values (standard UPDATE semantics, v = v + k uses the
    pre-update v); unknown target columns are rejected."""
    from collections import Counter

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 16, parts=1), p,
                       stat_cols=["k"])                            # file A
    t.append(_kv(spark, 16, 32, parts=1))                          # file B
    v_before = t.version
    files_before = set(t.live_files())

    t.update("k >= 3 AND k < 6", {"v": "v + k"})
    assert t.version == v_before + 1
    got = Counter((r["k"], r["v"]) for r in t.read().collect())
    want = Counter({(k, 2 * k + (k if 3 <= k < 6 else 0)): 1
                    for k in range(32)})
    assert got == want
    # only file A (0..15) was rewritten; file B (16..31) survived intact
    assert len(set(t.live_files()) & files_before) == 1

    # CDC nets to exactly the changed rows
    ch = t.read_changes(v_before)
    ins = Counter((r["k"], r["v"]) for r in
                  ch.filter(F.col("_change_type") == "insert").collect())
    dels = Counter((r["k"], r["v"]) for r in
                   ch.filter(F.col("_change_type") == "delete").collect())
    assert dels - ins == Counter({(3, 6): 1, (4, 8): 1, (5, 10): 1})
    assert ins - dels == Counter({(3, 9): 1, (4, 12): 1, (5, 15): 1})

    # no-match condition: no commit at all
    v = t.version
    t.update("k = 999", {"v": "0"})
    assert t.version == v

    # unknown assignment target: loud, nothing committed
    with pytest.raises(ValueError, match="unknown columns"):
        t.update("k = 0", {"nope": "1"})
    assert t.version == v


def _heavy_test_update_conflicts_with_concurrent_insert(spark, tmp_path):
    """An intervening data-changing add invalidates the update's probe
    (stat-blind conservative rule); a layout-only commit does not."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 50, parts=4), p,
                       stat_cols=["k"])
    t2 = TxTable(spark, p)

    orig = t._snapshot

    def racing_snapshot(version=None):
        out = orig(version)
        if not getattr(racing_snapshot, "fired", False):
            racing_snapshot.fired = True
            t2.append(_kv(spark, 100, 105, parts=1))
        return out

    t._snapshot = racing_snapshot
    with pytest.raises(TxConflict, match="re-run the update"):
        t.update("k < 5", {"v": "0"})
    t._snapshot = orig

    # layout-only concurrent commit touching a DIFFERENT file: exempt
    # from the stat-blind rule (dataChange: false moves rows between
    # files without changing contents). Simulated as the minimal
    # compaction no-op — remove + re-add of the same file, both tagged
    # dataChange: false — so the table stays byte-identical while the
    # validator sees a layout-only add. (A concurrent optimize of the
    # SAME files the update rewrites conflicts at file level instead —
    # the write-write rule, same as vendor Delta.) Two single-key-range
    # files so the update's target (file A) and the racing layout
    # commit's target (file B) are deterministically disjoint.
    p2 = str(tmp_path / "t2")
    ta = TxTable.create(spark, _kv(spark, 0, 5, parts=1), p2,
                        stat_cols=["k"])                        # file A
    file_a = set(ta.live_files())
    ta.append(_kv(spark, 100, 105, parts=1))                    # file B
    (file_b,) = set(ta.live_files()) - file_a
    tb = TxTable(spark, p2)
    orig2 = ta._snapshot

    def racing_layout(version=None):
        out = orig2(version)
        if not getattr(racing_layout, "fired", False):
            racing_layout.fired = True
            rv, _, live = tb._snapshot()
            tb._commit([
                {"remove": {"path": file_b, "dataChange": False}},
                {"add": {**live[file_b], "dataChange": False}},
            ], rv)
        return out

    ta._snapshot = racing_layout
    ta.update("k = 1", {"v": "777"})
    ta._snapshot = orig2
    assert [r["v"] for r in ta.read().filter(F.col("k") == 1).collect()] \
        == [777]


def test_restore_rewinds_live_set_keeps_history_and_feeds_cdc(
        spark, tmp_path):
    """RESTORE: the live set (and schema) returns to the target
    snapshot's as a NEW commit — pure log manipulation, no data copied;
    every pre-restore version stays readable; read_changes across the
    restore nets to the row diff between the snapshots; restoring to
    the current snapshot is a no-op; a vacuumed target fails loudly."""
    from collections import Counter

    def ms(df):
        return Counter((r["k"], r["v"]) for r in df.collect())

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10, parts=1), p,
                       stat_cols=["k"])                              # v0
    t.append(_kv(spark, 10, 20, parts=1))                            # v1
    want_v1 = ms(t.read())
    t.merge_upsert(_kv(spark, 5, 15, mul=100, parts=1), ["k"],
                   update=True)                                      # v2
    t.delete(spark.createDataFrame([(0,)], "k long"), ["k"])         # v3
    v_head = t.version
    want_head = ms(t.read())

    t.restore(1)                                                     # v4
    assert t.version == v_head + 1
    assert ms(t.read()) == want_v1
    # nothing lost: the pre-restore head is still time-travelable
    assert ms(t.read(version=v_head)) == want_head
    # CDC across the restore nets to the v_head -> v1 row diff
    ch = t.read_changes(v_head)
    ins = Counter((r["k"], r["v"]) for r in
                  ch.filter(F.col("_change_type") == "insert").collect())
    dels = Counter((r["k"], r["v"]) for r in
                   ch.filter(F.col("_change_type") == "delete").collect())
    assert ins - dels == want_v1 - want_head
    assert dels - ins == want_head - want_v1

    # restore-to-current is a no-op (no commit)
    v = t.version
    t.restore(t.version)
    assert t.version == v

    # and the restore itself can be restored away
    t.restore(v_head)
    assert ms(t.read()) == want_head

    # a restore past vacuum retention fails loudly
    t.overwrite(_kv(spark, 50, 60, parts=1))
    t.vacuum(retention_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(1)


def _heavy_test_restore_readds_optimized_files_as_data_changes(spark, tmp_path):
    """A re-added file whose original add was layout-only (optimize
    output, dataChange: false) must surface in the CDC feed after a
    restore — relative to the pre-restore table its rows genuinely
    reappear."""
    from collections import Counter

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 8, parts=2), p,
                       stat_cols=["k"])                              # v0
    t.optimize(target_rows=1_000_000)                                # v1:
    v_packed = t.version                  # live set = packed file (dc=false)
    t.overwrite(_kv(spark, 100, 104, parts=1))                       # v2
    v_over = t.version

    t.restore(v_packed)                                              # v3
    want = Counter({(k, 2 * k): 1 for k in range(8)})
    assert Counter((r["k"], r["v"]) for r in t.read().collect()) == want
    ch = t.read_changes(v_over)
    ins = Counter((r["k"], r["v"]) for r in
                  ch.filter(F.col("_change_type") == "insert").collect())
    assert ins == want  # the packed file's rows ARE in the feed


def _heavy_test_read_changes_nets_restore_readds_by_multiset(spark, tmp_path):
    """A window spanning a remove and a later RESTORE re-add of the SAME
    path has unbalanced add/remove counts (2 adds vs 1 remove); netting
    by set intersection dropped every occurrence and emitted an empty
    feed where the true net is one insert — any fresh catch-up consumer
    over a restore-bearing history built a wrong replica. Multiset
    netting keeps the fold invariant; the symmetric remove/re-add/remove
    window nets to one delete."""
    from collections import Counter

    def ms(df):
        return Counter((r["k"], r["v"]) for r in df.collect())

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10, parts=1), p,
                       stat_cols=["k"])                              # v0
    t.append(_kv(spark, 10, 20, parts=1))                            # v1: +f2
    # delete every row the v1 file holds: f2 is removed, nothing staged
    t.delete(spark.range(10, 20).selectExpr("id as k"), ["k"])       # v2: -f2
    t.restore(1)                                                     # v3: +f2
    ch = t.read_changes(0)  # spans add(v1) -> remove(v2) -> re-add(v3)
    ins = ms(ch.filter(F.col("_change_type") == "insert"))
    dels = ms(ch.filter(F.col("_change_type") == "delete"))
    assert ins - dels == ms(t.read()) - ms(t.read(version=0))
    assert dels - ins == Counter()
    assert ins, "restore re-add cancelled to an empty feed"

    # symmetric window (1, 4]: remove(v2) -> re-add(v3) -> remove(v4)
    t.delete(spark.range(10, 20).selectExpr("id as k"), ["k"])       # v4
    ch2 = t.read_changes(1)
    ins2 = ms(ch2.filter(F.col("_change_type") == "insert"))
    dels2 = ms(ch2.filter(F.col("_change_type") == "delete"))
    assert dels2 - ins2 == ms(t.read(version=1)) - ms(t.read())
    assert ins2 - dels2 == Counter()
    assert dels2, "re-add/remove cancelled to an empty feed"


def _heavy_test_legacy_checkpoint_is_regenerated_in_place(spark, tmp_path):
    """A checkpoint written before the count trailer existed must not be
    treated as permanently torn: write_checkpoint regenerates the
    same-version file (atomic replace) with the trailer, instead of
    leaving every snapshot fold rejecting it back to commit 0."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10, parts=1), p,
                       stat_cols=["k"])
    t.append(_kv(spark, 10, 20, parts=1))
    v = t.write_checkpoint()
    ckpt = os.path.join(p, "_txlog", f"{v:020d}.checkpoint.json")
    with open(ckpt, encoding="utf-8") as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    assert json.loads(lines[-1]).keys() == {"count"}
    # strip the trailer -> the legacy on-disk format
    with open(ckpt, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines[:-1]))
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import read_checkpoint
    with pytest.raises(ValueError, match="torn"):
        read_checkpoint(t._io, v)
    # idempotent call upgrades the file in place...
    assert t.write_checkpoint(v) == v
    meta, live, _, proto = read_checkpoint(t._io, v)
    assert meta and live and proto  # protocol survives the regeneration
    # ...and snapshot folds accelerate from it again
    from collections import Counter
    assert Counter((r["k"], r["v"]) for r in t.read().collect()) == \
        Counter((i, i * 2) for i in range(20))

def _heavy_test_same_txn_race_publishes_once(spark, tmp_path):
    """Exactly-once under a race: two handles apply the same keyed
    delta with the same ``txn``. The loser planned on the snapshot
    before the winner's commit; the commit loop re-takes the ledger on
    the version it would publish on, so the loser returns without
    publishing instead of applying the batch twice (or raising on the
    winner's overlapping keys)."""
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        read_commit)
    p = str(tmp_path / "t")
    TxTable.create(spark, _kv(spark, 0, 10, parts=1), p, stat_cols=["k"])
    winner, loser = TxTable(spark, p), TxTable(spark, p)
    clauses = [(["k"], spark.createDataFrame([(3,)], "k long"))]
    inserts = _kv(spark, 100, 102, parts=1)
    orig = loser._io.write

    def inject(name, data, replace=False):
        if not getattr(loser, "_raced", False):
            loser._raced = True
            winner.apply_delta(clauses, inserts, txn=("app", 7))
        return orig(name, data, replace)

    loser._io.write = inject
    try:
        v = loser.apply_delta(clauses, inserts, txn=("app", 7))
    finally:
        loser._io.write = orig
    assert loser._raced and v == loser.version == 1
    carrying = [i for i in range(loser.version + 1)
                if {"txn": {"appId": "app", "version": 7}}
                in read_commit(loser._io, i)]
    assert carrying == [1]
    from collections import Counter
    assert Counter((r["k"], r["v"]) for r in loser.read().collect()) == \
        Counter((i, i * 2) for i in [*range(10), 100, 101] if i != 3)


# ---------------------------------------------------------------------------
# Pooled heavy bodies (runtime-budget lever; see conftest.pool_bodies):
# independent bodies run concurrently under one module fixture, each
# keeping its own pytest row. Tests that mutate process-global state
# (sys.modules monkeypatching, class attributes) stay unpooled.
# ---------------------------------------------------------------------------

_POOLED = {
    "test_create_append_read_and_versions": _heavy_test_create_append_read_and_versions,
    "test_schema_is_enforced_and_empty_table_readable": _heavy_test_schema_is_enforced_and_empty_table_readable,
    "test_merge_first_wins_matches_parquet_tier": _heavy_test_merge_first_wins_matches_parquet_tier,
    "test_merge_last_wins_rewrites_only_colliding_files": _heavy_test_merge_last_wins_rewrites_only_colliding_files,
    "test_stat_pruning_limits_collision_probe": _heavy_test_stat_pruning_limits_collision_probe,
    "test_crash_recovery_orphan_data_and_torn_commit": _heavy_test_crash_recovery_orphan_data_and_torn_commit,
    "test_concurrent_overlapping_merge_conflicts": _heavy_test_concurrent_overlapping_merge_conflicts,
    "test_vacuum_removes_only_unreferenced_files": _heavy_test_vacuum_removes_only_unreferenced_files,
    "test_history_actions_are_auditable": _heavy_test_history_actions_are_auditable,
    "test_read_changes_fold_invariant_and_windows": _heavy_test_read_changes_fold_invariant_and_windows,
    "test_update_conflicts_with_concurrent_insert": _heavy_test_update_conflicts_with_concurrent_insert,
    "test_restore_readds_optimized_files_as_data_changes": _heavy_test_restore_readds_optimized_files_as_data_changes,
    "test_read_changes_nets_restore_readds_by_multiset": _heavy_test_read_changes_nets_restore_readds_by_multiset,
    "test_legacy_checkpoint_is_regenerated_in_place": _heavy_test_legacy_checkpoint_is_regenerated_in_place,
    "test_same_txn_race_publishes_once": _heavy_test_same_txn_race_publishes_once,
}


@pytest.fixture(scope="module")
def txlog_pool(_heavy_pool):
    # touch all (submits on targeted runs), then join only
    # THIS module futures; the rest keep draining
    futs = {n: _heavy_pool["tests.test_txlog::" + n]
            for n in _POOLED}
    return {n: f.result() for n, f in futs.items()}


def test_create_append_read_and_versions(txlog_pool):
    ex = txlog_pool["test_create_append_read_and_versions"]
    if ex is not None:
        raise ex


def test_schema_is_enforced_and_empty_table_readable(txlog_pool):
    ex = txlog_pool["test_schema_is_enforced_and_empty_table_readable"]
    if ex is not None:
        raise ex


def test_merge_first_wins_matches_parquet_tier(txlog_pool):
    ex = txlog_pool["test_merge_first_wins_matches_parquet_tier"]
    if ex is not None:
        raise ex


def test_merge_last_wins_rewrites_only_colliding_files(txlog_pool):
    ex = txlog_pool["test_merge_last_wins_rewrites_only_colliding_files"]
    if ex is not None:
        raise ex


def test_stat_pruning_limits_collision_probe(txlog_pool):
    ex = txlog_pool["test_stat_pruning_limits_collision_probe"]
    if ex is not None:
        raise ex


def test_crash_recovery_orphan_data_and_torn_commit(txlog_pool):
    ex = txlog_pool["test_crash_recovery_orphan_data_and_torn_commit"]
    if ex is not None:
        raise ex


def test_concurrent_overlapping_merge_conflicts(txlog_pool):
    ex = txlog_pool["test_concurrent_overlapping_merge_conflicts"]
    if ex is not None:
        raise ex


def test_vacuum_removes_only_unreferenced_files(txlog_pool):
    ex = txlog_pool["test_vacuum_removes_only_unreferenced_files"]
    if ex is not None:
        raise ex


def test_history_actions_are_auditable(txlog_pool):
    ex = txlog_pool["test_history_actions_are_auditable"]
    if ex is not None:
        raise ex


def test_read_changes_fold_invariant_and_windows(txlog_pool):
    ex = txlog_pool["test_read_changes_fold_invariant_and_windows"]
    if ex is not None:
        raise ex


def test_update_conflicts_with_concurrent_insert(txlog_pool):
    ex = txlog_pool["test_update_conflicts_with_concurrent_insert"]
    if ex is not None:
        raise ex


def test_restore_readds_optimized_files_as_data_changes(txlog_pool):
    ex = txlog_pool["test_restore_readds_optimized_files_as_data_changes"]
    if ex is not None:
        raise ex


def test_read_changes_nets_restore_readds_by_multiset(txlog_pool):
    ex = txlog_pool["test_read_changes_nets_restore_readds_by_multiset"]
    if ex is not None:
        raise ex


def test_legacy_checkpoint_is_regenerated_in_place(txlog_pool):
    ex = txlog_pool["test_legacy_checkpoint_is_regenerated_in_place"]
    if ex is not None:
        raise ex


def test_same_txn_race_publishes_once(txlog_pool):
    ex = txlog_pool["test_same_txn_race_publishes_once"]
    if ex is not None:
        raise ex
