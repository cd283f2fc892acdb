"""Log-maintenance tier of the transaction-log table
(operators/txlog.py): snapshot checkpoints (fold cost bounded by the
checkpoint interval, not table age) and OPTIMIZE small-file compaction
(dataChange=false — layout-only, invisible to change feeds). Both follow
the PUBLIC Delta Lake protocol shapes; no vendor code involved."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from meteomatics_e2e_data_pipeline_spark.operators.txlog import TxTable
from meteomatics_e2e_data_pipeline_spark.sources.txlog_stream import (
    TxLogCdcStreamReader,
)


def _kv(spark, lo, hi, mul=2, parts=1):
    return (spark.range(lo, hi)
            .selectExpr("id as k", f"id*{mul} as v").repartition(parts))


def _ms(df, cols=("k", "v")):
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _ckpt_files(path):
    log = os.path.join(path, "_txlog")
    return sorted(f for f in os.listdir(log)
                  if f.endswith(".checkpoint.json"))


def _heavy_test_checkpoints_bound_snapshot_fold_and_stay_exact(spark, tmp_path):
    """Auto-checkpoints land every CHECKPOINT_INTERVAL commits; a
    snapshot folds forward from the newest one at-or-before the target
    version (≤ interval commit reads per op, however old the table),
    and every answer — latest, mid-history, pre-first-checkpoint — is
    identical to the fold-from-zero it replaced."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])  # v0
    for i in range(1, 25):                                   # v1..v24
        t.append(_kv(spark, i * 10, i * 10 + 10))
    assert t.version == 24
    assert _ckpt_files(p) == ["00000000000000000010.checkpoint.json",
                              "00000000000000000020.checkpoint.json"]

    # commit reads per snapshot: only the tail past the newest checkpoint
    fresh = TxTable(spark, p)
    reads = []
    orig = fresh._io.read
    fresh._io.read = lambda name: (
        reads.append(int(name[:-5])) if name[:-5].isdigit() else None,
        orig(name))[1]
    fresh.live_files()                      # latest = 24, checkpoint at 20
    assert reads == [21, 22, 23, 24]
    reads.clear()
    fresh._snapshot(version=13)             # checkpoint at 10
    assert reads == [11, 12, 13]
    reads.clear()
    fresh._snapshot(version=7)              # before any checkpoint
    assert reads == list(range(8))

    # exactness: every fold equals the checkpoint-free fold
    def fold_from_zero(tbl, v):
        listing = tbl._io.list
        tbl._io.list = lambda: {n: m for n, m in listing().items()
                                if not n.endswith(".checkpoint.json")}
        try:
            return tbl._snapshot(version=v)
        finally:
            del tbl._io.list

    for v in (0, 7, 10, 13, 20, 24):
        assert t._snapshot(version=v) == fold_from_zero(t, v)
    assert t.read().count() == 250
    assert t.read(version=13).count() == 140

    # explicit checkpoint at an off-interval version is idempotent and
    # immediately picked up
    assert t.write_checkpoint() == 24
    assert t.write_checkpoint() == 24      # second call: no-op, same v
    reads.clear()
    fresh.live_files()
    assert reads == []                     # folded purely from checkpoint 24


def test_optimize_packs_small_files_without_changing_rows(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 40, parts=4), p,
                       stat_cols=["k"])                       # 4 files
    t.append(_kv(spark, 40, 60, parts=2))                     # +2 files
    before = _ms(t.read())
    pre_v, pre_files = t.version, t.live_files()
    assert len(pre_files) == 6

    v = t.optimize(target_rows=1_000)
    assert v == pre_v + 1
    assert len(t.live_files()) == 1
    assert _ms(t.read()) == before                    # rows identical
    assert _ms(t.read(version=pre_v)) == before       # time travel intact
    assert t.live_files(version=pre_v) == pre_files

    # the compaction commit is layout-only and says so
    actions = t.history()[v]
    moves = [a for a in actions if "add" in a or "remove" in a]
    assert moves and all(
        (a.get("add") or a.get("remove")).get("dataChange", True) is False
        for a in moves)
    assert next(a["info"]["op"] for a in actions
                if "info" in a) == "optimize"   # provenance recorded
    # packed file keeps stats so later MERGEs still stat-prune
    packed_add = next(a["add"] for a in actions if "add" in a)
    assert packed_add["stats"]["k"] == [0, 59]
    assert packed_add["numRecords"] == 60

    # nothing left to pack: no-op, version unchanged
    assert t.optimize(target_rows=1_000) == v
    # files all at/above target: also a no-op
    assert t.optimize(target_rows=10) == v

    # old small files become vacuumable once unreferenced
    deleted = t.vacuum(retention_seconds=0)
    assert sorted(deleted) == sorted(pre_files)
    assert _ms(t.read()) == before


def _heavy_test_optimize_is_invisible_to_change_feeds(spark, tmp_path):
    """read_changes and the txlog_cdc stream skip dataChange=false
    actions: a window holding only the compaction is empty, the fold
    invariant holds across every window spanning it — including the
    nasty case where a LATER merge rewrites the packed file, so the
    feed's deletes name a file whose inputs predate the window."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 30, parts=3), p,
                       stat_cols=["k"])                            # v0
    t.append(_kv(spark, 30, 40))                                   # v1
    assert t.optimize(target_rows=1_000) == 2                      # v2
    t.append(_kv(spark, 40, 50))                                   # v3
    t.merge_upsert(_kv(spark, 20, 45, mul=9), ["k"], update=True)  # v4
    assert t.version == 4

    assert t.read_changes(1, 2).count() == 0       # optimize-only window
    assert t.read_changes(1, 2).columns == ["k", "v", "_change_type"]

    for from_v in range(5):
        for to_v in range(from_v, 5):
            ch = t.read_changes(from_v, to_v)
            ins = _ms(ch.filter("_change_type = 'insert'")
                      .drop("_change_type"))
            dels = _ms(ch.filter("_change_type = 'delete'")
                       .drop("_change_type"))
            got = _ms(t.read(version=from_v)) + ins - dels
            assert got == _ms(t.read(version=to_v)), (from_v, to_v)

    # the streaming twin plans the same quiet batches
    r = TxLogCdcStreamReader(None, {"path": p})
    assert r.partitions({"version": 1}, {"version": 2}) == []
    rows = Counter(tuple(row.values())
                   for pt in r.partitions({"version": 0}, {"version": 4})
                   for b in r.read(pt) for row in b.to_pylist())
    want = Counter((row["k"], row["v"], row["_change_type"])
                   for row in t.read_changes(0, 4).collect())
    assert rows == want
    # checkpoint files in the log dir never parse as stream commits
    t.write_checkpoint()
    assert r.latestOffset() == {"version": 4}


def test_optimize_commutes_with_concurrent_appends(spark, tmp_path):
    """A compaction publishes on top of a concurrent append without
    conflict (disjoint files commute); the appended rows and the packed
    rows both survive."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 20, parts=2), p,
                       stat_cols=["k"])
    rv, meta, live = t._snapshot()
    small = sorted(live)
    packed = (t.spark.read.schema(t.schema())
              .parquet(*[f"{p}/{f}" for f in small]).repartition(1))
    actions = [{"remove": {"path": f, "dataChange": False}} for f in small]
    actions += t._stage(packed, meta["stat_cols"], data_change=False)
    TxTable(spark, p).append(_kv(spark, 100, 110))   # concurrent writer
    v = t._commit(actions, rv)                       # retries, no conflict
    assert v == 2
    assert _ms(t.read()) == (
        Counter({(k, 2 * k): 1 for k in range(20)})
        + Counter({(k, 2 * k): 1 for k in range(100, 110)}))
    assert len(t.live_files()) == 2   # packed file + concurrent append


def _heavy_test_optimize_zorder_turns_compaction_into_data_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER BY: packing on the Morton curve makes every
    packed file an aligned (x, y) rectangle, so merge-style stat
    pruning skips files on either dimension. Layout proof on a 64x64
    grid written as y-stripes (every stripe spans all of x → a box
    predicate on x prunes NOTHING before, 4/16 files after)."""
    from meteomatics_e2e_data_pipeline_spark.operators.txlog import TxTable

    def grid_slice(lo, hi):
        return (spark.range(lo, hi)
                .selectExpr("cast(id % 64 as long) as x",
                            "cast(id div 64 as long) as y")
                .coalesce(1))

    p = str(tmp_path / "t")
    t = TxTable.create(spark, grid_slice(0, 128), p, stat_cols=["x", "y"])
    for i in range(1, 32):
        t.append(grid_slice(i * 128, (i + 1) * 128))
    assert len(t.live_files()) == 32

    box = {"x": (0, 15), "y": (0, 63)}   # a quarter-width column of the grid
    _, _, live = t._snapshot()
    assert len(t._candidate_files(live, ["x", "y"], box)) == 32  # no skip

    before = _ms(t.read(), cols=("x", "y"))
    v = t.optimize(target_rows=256, zorder_by=("x", "y"), zorder_bits=6)
    assert v == 32
    _, _, live = t._snapshot()
    assert len(live) == 16                        # 4096 rows / 256
    assert _ms(t.read(), cols=("x", "y")) == before
    # each file is one aligned 16x16 square; the x∈[0,16) column hits 4
    cands = t._candidate_files(live, ["x", "y"], box)
    assert len(cands) == 4
    # and a 2-D box hits exactly 1
    one = t._candidate_files(live, ["x", "y"], {"x": (0, 15), "y": (0, 15)})
    assert len(one) == 1
    # the commit is still layout-only: feeds stay quiet
    assert t.read_changes(v - 1, v).count() == 0


def test_merge_schema_append_widens_and_nullfills(spark, tmp_path):
    """Delta mergeSchema contract: a batch with a NEW column widens the
    table schema in the same atomic commit; every pre-existing file
    reads the new column as null; a batch MISSING a column is
    null-filled; strict mode still raises."""
    import pytest

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])  # v0
    wide = (spark.range(10, 20)
            .selectExpr("id as k", "id*2 as v", "id*100 as w")
            .coalesce(1))
    with pytest.raises(ValueError, match="merge_schema=True"):
        t.append(wide)
    assert t.append(wide, merge_schema=True) == 1
    assert [f.name for f in t.schema().fields] == ["k", "v", "w"]
    assert t.schema()["w"].nullable is True

    rows = {r["k"]: (r["v"], r["w"]) for r in t.read().collect()}
    assert rows[5] == (10, None)        # old file: null-filled
    assert rows[15] == (30, 1500)       # new file: populated
    # time travel to v0 keeps the ORIGINAL schema
    assert t.read(version=0).columns == ["k", "v"]

    # a batch missing v (but no new columns) null-fills WITHOUT meta churn
    assert t.append(spark.range(20, 25).selectExpr("id as k")
                    .coalesce(1), merge_schema=True) == 2
    assert {r["v"] for r in t.read().filter("k >= 20").collect()} == {None}
    assert not any("meta" in a for a in t.history()[2])
    # ... while the widening commit DID carry the evolved meta
    assert any("meta" in a for a in t.history()[1])

    # MERGE keeps working across the evolution (stat pruning included)
    t.merge_upsert(spark.range(0, 12).selectExpr(
        "id as k", "id*2 as v", "id*7 as w").coalesce(1), ["k"],
        update=True)
    got = {r["k"]: r["w"] for r in t.read().filter("k < 12").collect()}
    assert got == {k: 7 * k for k in range(12)}


def test_merge_schema_concurrent_widenings_conflict(spark, tmp_path):
    """Two concurrent schema widenings must not silently drop each
    other's columns: the later publisher sees the intervening meta
    action and raises (re-run folds both columns in)."""
    import pytest
    from meteomatics_e2e_data_pipeline_spark.operators.txlog import \
        TxConflict

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])
    rv, meta, _ = t._snapshot()
    df_a = (spark.range(10, 15)
            .selectExpr("id as k", "id*2 as v", "id as c1").coalesce(1))
    out_a, meta_a, vals_a = t._evolve_schema(df_a, meta)
    # writer B lands its own widening first
    TxTable(spark, p).append(
        spark.range(20, 25).selectExpr("id as k", "id*2 as v", "id as c2")
        .coalesce(1), merge_schema=True)

    def validate(intervening):
        for v in vals_a:
            v(intervening)
    actions = [{"meta": meta_a}] + t._stage(out_a, ["k"])
    with pytest.raises(TxConflict, match="schema change"):
        t._commit(actions, rv, validate=validate)
    # the re-run (fresh snapshot) folds BOTH columns
    t.append(df_a, merge_schema=True)
    assert [f.name for f in t.schema().fields] == ["k", "v", "c2", "c1"]


def test_merge_schema_visible_to_cdc_stream(spark, tmp_path):
    """The stream source resolves the LATEST meta (not commit 0's) and
    null-fills pre-evolution files, so a fresh stream after a widening
    sees the evolved row shape for ALL change rows."""
    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])  # v0
    t.append(spark.range(10, 15).selectExpr(
        "id as k", "id*2 as v", "id*3 as w").coalesce(1),
        merge_schema=True)                                            # v1
    t.merge_upsert(spark.range(3, 6).selectExpr(
        "id as k", "id*9 as v", "id*9 as w").coalesce(1), ["k"],
        update=True)                                                  # v2

    r = TxLogCdcStreamReader(None, {"path": p})
    rows = [tuple(row.values())
            for pt in r.partitions({"version": 0}, {"version": 2})
            for b in r.read(pt) for row in b.to_pylist()]
    assert all(len(row) == 4 for row in rows)   # k, v, w, _change_type
    # v2's deletes come from the ORIGINAL (k, v)-only file: w is null
    dels = {row[0]: row for row in rows if row[3] == "delete"}
    assert dels[3] == (3, 6, None, "delete")
    ins = {row[0]: row for row in rows if row[3] == "insert"}
    assert ins[4][2] == 36 or ins[4][2] == 12   # rewritten or v1 insert
    assert (3, 27, 27, "insert") in set(rows)


def _heavy_test_torn_checkpoint_is_skipped_and_publish_is_atomic(spark, tmp_path):
    """Crash-robustness of the log artifacts: a checkpoint torn mid-write
    (truncated JSON) is skipped by EVERY fold path — TxTable snapshots,
    txn ledger, the plain-IO DataSource fold, and the stream source's
    schema resolver — falling back to an older checkpoint or the full
    commit fold; and publishes go through tmp+hard-link, so the log
    directory never holds a half-written versioned file (no .tmp
    leftovers either)."""
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        LocalLogIO, replay,
    )
    from meteomatics_e2e_data_pipeline_spark.sources.txlog_stream import (
        _table_schema,
    )

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])
    for i in range(1, 13):                       # v1..v12, checkpoint at 10
        t.append(_kv(spark, i * 10, i * 10 + 10))
    ck = os.path.join(p, "_txlog", "00000000000000000010.checkpoint.json")
    assert os.path.exists(ck)
    want_live = t.live_files()
    want_rows = t.read().count()

    # tear it: truncate mid-line (the classic crash shape)
    with open(ck, encoding="utf-8") as fh:
        content = fh.read()
    with open(ck, "w", encoding="utf-8") as fh:
        fh.write(content[: len(content) // 2].rsplit("\n", 1)[0][:-7])

    fresh = TxTable(spark, p)
    assert fresh.live_files() == want_live       # full-fold fallback
    assert fresh.read().count() == want_rows
    assert replay(fresh._io).txns == {}
    _, _, live, _, _ = replay(LocalLogIO(p))
    assert sorted(live) == want_live
    assert [f.name for f in _table_schema(p).fields] == ["k", "v"]

    # an OLDER intact checkpoint is used when the newest is torn
    for i in range(13, 21):                      # … v20, checkpoint at 20
        t.append(_kv(spark, i * 10, i * 10 + 10))
    ck20 = os.path.join(p, "_txlog", "00000000000000000020.checkpoint.json")
    assert os.path.exists(ck20)
    with open(ck20, "w", encoding="utf-8") as fh:
        fh.write('{"meta": {"schema"')           # torn v20: v10 is also torn
    assert TxTable(spark, p).read().count() == 210

    # no tmp debris: every publish/checkpoint linked cleanly
    leftovers = [f for f in os.listdir(os.path.join(p, "_txlog"))
                 if f.endswith(".tmp")]
    assert leftovers == []


def _heavy_test_timestamp_time_travel_and_checkpoint_vacuum(spark, tmp_path):
    """timestampAsOf resolves against commit-file mtimes (Delta's rule);
    vacuum keeps only the newest checkpoint — old-version time travel
    falls back to the commit fold and stays exact."""
    import os
    import time

    import pytest

    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        LocalLogIO, version_at,
    )

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])
    log = os.path.join(p, "_txlog")
    for i in range(1, 23):                       # ckpts at 10 and 20
        t.append(_kv(spark, i * 10, i * 10 + 10))
    # pin distinct mtimes so midpoints are unambiguous
    for v in range(23):
        os.utime(os.path.join(log, f"{v:020d}.json"),
                 (1_700_000_000 + v * 60,) * 2)

    assert t.version_at(1_700_000_000) == 0
    assert t.version_at(1_700_000_000 + 5 * 60 + 30) == 5
    assert t.version_at(time.time()) == 22
    assert version_at(LocalLogIO(p), 1_700_000_000 + 5 * 60 + 30) == 5
    with pytest.raises(ValueError, match="no commit at or before"):
        t.version_at(1_600_000_000)
    assert t.read(timestamp=1_700_000_000 + 5 * 60).count() == 60

    # the DataSource option resolves the same version
    from meteomatics_e2e_data_pipeline_spark.sources.txlog_batch import (
        register,
    )
    register(spark)
    df = (spark.read.format("txlog").option("path", p)
          .option("timestampAsOf", str(1_700_000_000 + 5 * 60)).load())
    assert df.count() == 60

    # vacuum drops the superseded checkpoint only
    assert _ckpt_files(p) == ["00000000000000000010.checkpoint.json",
                              "00000000000000000020.checkpoint.json"]
    deleted = t.vacuum(retention_seconds=0)
    assert "00000000000000000010.checkpoint.json" in deleted
    assert _ckpt_files(p) == ["00000000000000000020.checkpoint.json"]
    # time travel below the surviving checkpoint still exact (commit fold)
    assert t.read(version=5).count() == 60
    assert t.read().count() == 230


def _heavy_test_newline_truncated_checkpoint_rejected_by_count_trailer(
        spark, tmp_path):
    """The r10-advice crash shape the mid-line tear test can't catch: a
    checkpoint truncated exactly AT a newline boundary still parses as
    valid JSON lines but silently omits live files — without detection,
    every later fold would drop rows with no error. The writer's
    ``{"count": N}`` trailer makes it torn: both fold paths (TxTable and
    the plain-IO DataSource twin) must fall back to the full commit fold
    and stay exact."""
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        LocalLogIO, replay,
    )

    p = str(tmp_path / "t")
    t = TxTable.create(spark, _kv(spark, 0, 10), p, stat_cols=["k"])
    for i in range(1, 11):                       # v1..v10, checkpoint at 10
        t.append(_kv(spark, i * 10, i * 10 + 10))
    ck = os.path.join(p, "_txlog", "00000000000000000010.checkpoint.json")
    with open(ck, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    assert json.loads(lines[-1]) == {"count": len(lines) - 1}  # trailer
    want_live, want_rows = t.live_files(), t.read().count()

    # drop the last 3 add lines AND the trailer: every remaining line is
    # intact JSON — only the count can reveal the omission
    with open(ck, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines[:-4]) + "\n")

    fresh = TxTable(spark, p)
    assert fresh.live_files() == want_live       # full-fold fallback
    assert fresh.read().count() == want_rows
    _, _, live, _, _ = replay(LocalLogIO(p))
    assert sorted(live) == want_live

    # a truncation that keeps the trailer line itself is caught too
    # (count no longer matches the surviving line count)
    with open(ck, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines[:-3] + [lines[-1]]) + "\n")
    assert TxTable(spark, p).live_files() == want_live
    _, _, live, _, _ = replay(LocalLogIO(p))
    assert sorted(live) == want_live


def _heavy_test_scheme_path_fallback_publish_and_torn_commit_caveat(
        spark, tmp_path):
    """Directive: exercise the NON-local publish branch end-to-end. A
    ``file://``-scheme'd table takes ``txproto.publish``'s claim-then-write
    Hadoop path (and ``write_checkpoint``'s), which the local suite never
    reaches. Pins (a) appends/reads/checkpoints work through that branch,
    (b) a concurrent claim is detected (False, not a torn double-write),
    and (c) the documented crash window (txproto's "Torn commits"): a
    writer dying between claim and write leaves a half-written commit
    that poisons later folds LOUDLY — recovery = delete the torn version
    file (the escape hatch; local paths are immune via tmp+hardlink)."""
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        publish)
    local = tmp_path / "t"
    p = "file://" + str(local)
    t = TxTable.create(spark, _kv(spark, 0, 20), p, stat_cols=["k"])
    assert "://" in t.log_dir                    # fallback branch selected
    for i in range(1, 11):
        t.append(_kv(spark, i * 20, i * 20 + 20))
    assert t.read().count() == 220
    # checkpoint went through the Hadoop create() branch, trailer intact
    ck = local / "_txlog" / "00000000000000000010.checkpoint.json"
    lines = ck.read_text().splitlines()
    assert json.loads(lines[-1]) == {"count": len(lines) - 1}
    # trailer-validated fallback works for Hadoop-read checkpoints too:
    # truncate at a newline boundary, folds stay exact
    want_live = t.live_files()
    ck.write_text("\n".join(lines[:-3]) + "\n")
    assert TxTable(spark, p).live_files() == want_live

    # (b) losing the claim race returns False — no torn double-write
    nxt = t.version + 1
    claimed = local / "_txlog" / f"{nxt:020d}.json"
    claimed.write_text('{"add": {"path": "ghost.parquet", "numRecords"')
    assert publish(t._io, nxt, [{"remove": {"path": "x"}}]) is False

    # (c) the half-written claim is the documented crash window: folds
    # fail LOUDLY (never silently drop), and deleting the torn version
    # file recovers the table
    with pytest.raises(Exception):
        TxTable(spark, p).read().count()
    claimed.unlink()
    t2 = TxTable(spark, p)
    assert t2.read().count() == 220
    t2.append(_kv(spark, 300, 310))              # publishes at the freed slot
    assert t2.read().count() == 230

# ---------------------------------------------------------------------------
# Pooled heavy bodies (runtime-budget lever; see conftest.pool_bodies):
# independent bodies run concurrently under one module fixture, each
# keeping its own pytest row. Tests that mutate process-global state
# (class attributes, spark conf) are deliberately NOT pooled.
# ---------------------------------------------------------------------------

_POOLED = {
    "test_optimize_zorder_turns_compaction_into_data_skipping": _heavy_test_optimize_zorder_turns_compaction_into_data_skipping,
    "test_timestamp_time_travel_and_checkpoint_vacuum": _heavy_test_timestamp_time_travel_and_checkpoint_vacuum,
    "test_torn_checkpoint_is_skipped_and_publish_is_atomic": _heavy_test_torn_checkpoint_is_skipped_and_publish_is_atomic,
    "test_checkpoints_bound_snapshot_fold_and_stay_exact": _heavy_test_checkpoints_bound_snapshot_fold_and_stay_exact,
    "test_optimize_is_invisible_to_change_feeds": _heavy_test_optimize_is_invisible_to_change_feeds,
    "test_scheme_path_fallback_publish_and_torn_commit_caveat": _heavy_test_scheme_path_fallback_publish_and_torn_commit_caveat,
    "test_newline_truncated_checkpoint_rejected_by_count_trailer": _heavy_test_newline_truncated_checkpoint_rejected_by_count_trailer,
}


@pytest.fixture(scope="module")
def maint_pool(_heavy_pool):
    # touch all (submits on targeted runs), then join only
    # THIS module futures; the rest keep draining
    futs = {n: _heavy_pool["tests.test_txlog_maintenance::" + n]
            for n in _POOLED}
    return {n: f.result() for n, f in futs.items()}


def test_optimize_zorder_turns_compaction_into_data_skipping(maint_pool):
    ex = maint_pool["test_optimize_zorder_turns_compaction_into_data_skipping"]
    if ex is not None:
        raise ex


def test_timestamp_time_travel_and_checkpoint_vacuum(maint_pool):
    ex = maint_pool["test_timestamp_time_travel_and_checkpoint_vacuum"]
    if ex is not None:
        raise ex


def test_torn_checkpoint_is_skipped_and_publish_is_atomic(maint_pool):
    ex = maint_pool["test_torn_checkpoint_is_skipped_and_publish_is_atomic"]
    if ex is not None:
        raise ex


def test_checkpoints_bound_snapshot_fold_and_stay_exact(maint_pool):
    ex = maint_pool["test_checkpoints_bound_snapshot_fold_and_stay_exact"]
    if ex is not None:
        raise ex


def test_optimize_is_invisible_to_change_feeds(maint_pool):
    ex = maint_pool["test_optimize_is_invisible_to_change_feeds"]
    if ex is not None:
        raise ex


def test_scheme_path_fallback_publish_and_torn_commit_caveat(maint_pool):
    ex = maint_pool["test_scheme_path_fallback_publish_and_torn_commit_caveat"]
    if ex is not None:
        raise ex


def test_newline_truncated_checkpoint_rejected_by_count_trailer(maint_pool):
    ex = maint_pool["test_newline_truncated_checkpoint_rejected_by_count_trailer"]
    if ex is not None:
        raise ex

