"""Torn-commit detection and repair on the claim-then-write publish path.

Local publishes are atomic (tmp + hard link) and cannot tear; the
non-local branch (``file://`` here, S3A/HDFS in production) claims the
version with ``create(overwrite=False)`` and then streams the payload —
the documented Delta-on-HDFS crash window. These tests inject a writer
death INSIDE that window for each tear signature the wire protocol
distinguishes (empty file, mid-record truncation, line-boundary tear),
then prove the format's contract: every reader fails LOUDLY (no silent
wrong snapshot), ``repair_torn_commit`` restores the log to the unique
history consistent with what callers observed, and the dead writer's
retry lands cleanly after repair.
"""

from __future__ import annotations

import json
import os

import pytest

from meteomatics_e2e_data_pipeline_spark.operators.txlog import TxTable
from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
    LocalLogIO, TxCorruption, commit_payload, is_torn, parse_commit_lines,
    read_commit)


# ---------------------------------------------------------------- protocol
# (stdlib-only unit tests: the same parser runs inside executor workers)

def test_commit_payload_round_trips_with_trailer():
    actions = [{"meta": {"schema": {}}}, {"add": {"path": "a.parquet"}}]
    payload = commit_payload(actions)
    lines = payload.splitlines()
    assert json.loads(lines[-1]) == {"commit": {"actions": 2}}
    assert parse_commit_lines(lines, "t") == actions


@pytest.mark.parametrize("shape,lines", [
    ("empty", []),
    ("whitespace-only", ["   ", ""]),
    ("mid-record", ['{"add": {"path": "a.parquet"}}', '{"add": {"pa']),
    ("line-boundary (trailer lost)", ['{"add": {"path": "a.parquet"}}']),
    ("count-mismatch", ['{"add": {"path": "a.parquet"}}',
                        '{"commit": {"actions": 2}}']),
])
def test_every_tear_signature_is_detected(shape, lines):
    assert is_torn(lines), shape
    with pytest.raises(TxCorruption, match="repair_torn_commit"):
        parse_commit_lines(lines, "t")


def test_intact_commit_is_not_torn():
    assert not is_torn(commit_payload([{"add": {"path": "x"}}]).splitlines())


def test_every_possible_byte_truncation_reads_as_torn():
    """The property the trailer design rests on, checked EXHAUSTIVELY:
    for a representative commit, every strict byte-prefix of the payload
    is detected as torn — no truncation point yields a 'valid shorter
    commit' (a prefix either loses the trailer, tears a JSON line, or
    leaves a count mismatch; the only parse-clean content is the full
    payload)."""
    payload = commit_payload([
        {"meta": {"schema": {"fields": []}, "stat_cols": ["k"]}},
        {"add": {"path": "part-a.parquet", "numRecords": 3,
                 "stats": {"k": [0, 9]}}},
        {"remove": {"path": "part-b.parquet"}},
        {"txn": {"appId": "app", "version": 4}},
        {"info": {"op": "append", "ts": 1.0}},
    ])
    for cut in range(len(payload)):
        assert is_torn(payload[:cut].splitlines()), f"cut={cut}"
    assert not is_torn(payload.splitlines())


def test_hadoop_read_waits_for_an_in_flight_claim(spark, tmp_path):
    """On the claim-then-write path an EMPTY commit is a live writer's
    claim until ``CLAIM_SETTLE_S`` has passed: a ``file://`` commit that
    is empty at the first read and written inside the bound reads back
    its actions. (Still empty past the bound, it is torn — the e2e
    tests below.)"""
    import threading

    from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
        HadoopLogIO, commit_name)
    (tmp_path / "_txlog").mkdir()
    f = tmp_path / "_txlog" / commit_name(3)
    f.write_text("")
    actions = [{"add": {"path": "a.parquet"}}]
    io = HadoopLogIO(spark, f"file://{tmp_path}")
    fs, opens = io._fs, []

    class _LandAfterFirstOpen:
        def __getattr__(self, name):
            return getattr(fs, name)

        def open(self, path):
            opens.append(path)
            if len(opens) == 1:  # the claim's payload lands 0.2 s later
                threading.Timer(
                    0.2, f.write_text, [commit_payload(actions)]).start()
            return fs.open(path)

    io._fs = _LandAfterFirstOpen()
    assert read_commit(io, 3) == actions
    assert len(opens) >= 2  # read empty first, re-read inside the bound


# ---------------------------------------------------------------- e2e

def _crash_publish(table: TxTable, version: int, partial: str) -> None:
    """Reproduce the exact file state a writer death inside the
    claim-then-write window leaves: the version claimed, ``partial``
    (possibly empty) bytes flushed, writer gone."""
    with open(table.log_dir[len("file://"):] + f"/{version:020d}.json",
              "w", encoding="utf-8") as fh:
        fh.write(partial)


def _make_table(spark, tmp_path, name):
    path = f"file://{tmp_path}/{name}"
    df = spark.createDataFrame([(i, i * 10) for i in range(6)],
                               "k int, v int")
    t = TxTable.create(spark, df.coalesce(1), path, stat_cols=["k"])
    t.append(spark.createDataFrame([(10, 100), (11, 110)],
                                   "k int, v int").coalesce(1))
    return t


def _heavy_test_torn_commit_fails_loudly_then_repairs(spark, tmp_path, partial):
    t = _make_table(spark, tmp_path, "torn")
    rows_before = sorted((r["k"], r["v"]) for r in t.read().collect())
    victim = t.version + 1
    _crash_publish(t, victim, partial)

    # every reader path refuses to fold a wrong snapshot
    with pytest.raises(TxCorruption, match="repair_torn_commit"):
        t.read().collect()
    with pytest.raises(TxCorruption):
        t.read_changes(0).collect()
    with pytest.raises(TxCorruption):  # the executor-side parser too
        read_commit(LocalLogIO(str(tmp_path / "torn")), victim)

    # refusal guard: an intact commit is never "repairable"
    with pytest.raises(ValueError, match="refusing"):
        t.repair_torn_commit(victim - 1)

    t.repair_torn_commit(victim)
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) \
        == rows_before                       # no acknowledged write lost
    feed = t.read_changes(victim - 1, victim)
    assert feed.count() == 0                 # CDC: repaired == no-op

    # the dead writer's retry republishes AFTER the repaired version
    t.append(spark.createDataFrame([(12, 120)], "k int, v int").coalesce(1))
    assert t.version == victim + 1
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) \
        == rows_before + [(12, 120)]


def _heavy_test_line_boundary_tear_detected_by_required_trailer(spark, tmp_path):
    """The subtle tear: whole JSON lines survive but the trailer is gone.
    Without a REQUIRED trailer this parses as a valid shorter commit and
    silently drops the tail actions — the hole 'legacy acceptance' would
    reopen."""
    t = _make_table(spark, tmp_path, "boundary")
    victim = t.version + 1
    # a plausible flushed prefix: two intact action lines, no trailer
    _crash_publish(t, victim,
                   '{"add": {"path": "data/f1.parquet", "rows": 3}}\n'
                   '{"add": {"path": "data/f2.parquet", "rows": 4}}')
    with pytest.raises(TxCorruption, match="no count trailer"):
        t.read().collect()
    t.repair_torn_commit(victim)
    raw = open(f"{tmp_path}/boundary/_txlog/{victim:020d}.json").read()
    assert json.loads(raw) == {"commit": {"actions": 0, "repaired": True}}
    assert t.read().count() == 8


def _heavy_test_repair_is_idempotent_and_bounds_checked(spark, tmp_path):
    t = _make_table(spark, tmp_path, "idem")
    victim = t.version + 1
    _crash_publish(t, victim, "")
    t.repair_torn_commit(victim)
    with pytest.raises(ValueError, match="refusing"):
        t.repair_torn_commit(victim)  # already repaired == intact
    with pytest.raises(ValueError, match="out of range"):
        t.repair_torn_commit(victim + 7)


def _heavy_test_fsck_healthy_table_is_clean(spark, tmp_path):
    t = _make_table(spark, tmp_path, "fsck_ok")
    r = t.fsck(verify_row_counts=True)
    assert r["ok"] and r["snapshot_exact"]
    assert r["torn_commits"] == [] and r["missing_files"] == []
    assert r["unreferenced_files"] == [] and r["rowcount_mismatches"] == []
    assert r["stat_mismatches"] == []
    assert r["live_files"] == 2 and r["version"] == 1


def _heavy_test_fsck_reports_each_damage_class(spark, tmp_path):
    """One audit surfaces every failure mode distinctly: a torn commit,
    a live file deleted from disk, an unreferenced (in-flight/leaked)
    data file, and a row-count drift inside a live file — each named,
    none conflated, read paths never consulted."""
    t = _make_table(spark, tmp_path, "fsck_bad")
    root = str(tmp_path / "fsck_bad")
    live = sorted(t._snapshot()[2])
    _crash_publish(t, t.version + 1, "")                  # torn commit
    os.remove(os.path.join(root, live[0]))                # data loss
    with open(os.path.join(root, "part-leaked-0000.parquet"), "wb") as fh:
        fh.write(b"PAR1junk")                             # leaked staging
    r = t.fsck()
    assert not r["ok"] and not r["snapshot_exact"]
    assert r["torn_commits"] == [2]
    assert r["missing_files"] == [live[0]]
    assert r["unreferenced_files"] == ["part-leaked-0000.parquet"]
    # repair + restore the file state -> audit goes green again
    t.repair_torn_commit(2)
    os.remove(os.path.join(root, "part-leaked-0000.parquet"))
    import shutil
    shutil.copyfile(os.path.join(root, live[1]),
                    os.path.join(root, live[0]))          # wrong content
    crc = os.path.join(root, f".{live[0]}.crc")
    if os.path.exists(crc):  # drop the stale LocalFS checksum sidecar:
        os.remove(crc)       # fsck models stores with no checksum layer
    r2 = t.fsck(verify_row_counts=True)
    assert r2["torn_commits"] == [] and r2["snapshot_exact"]
    # the restored file exists but holds the OTHER file's rows: the two
    # files cover disjoint k ranges, so even when row counts happen to
    # agree the recomputed min/max diverge from the recorded stats —
    # exactly the drift that would silently mis-prune keyed DML
    assert not r2["ok"]
    flagged = ({m[0] for m in r2["rowcount_mismatches"]}
               | {m[0] for m in r2["stat_mismatches"]})
    assert flagged == {live[0]}


def _heavy_test_fsck_time_travel_files_are_not_orphans(spark, tmp_path):
    """Files superseded by a rewrite are historical state (time travel
    still reads them) — fsck must not flag them as unreferenced."""
    t = _make_table(spark, tmp_path, "fsck_tt")
    t.update("k < 3", {"v": "v + 1"})  # copy-on-write file rewrite
    r = t.fsck()
    assert r["ok"] and r["unreferenced_files"] == []
    # the superseded file is still on disk for time travel
    assert t.read(version=1).count() == 8


def _heavy_test_torn_claim_blocks_writers_until_repaired_then_race_resumes(
        spark, tmp_path):
    """While the log carries a torn tail, EVERY writer fails loudly
    (TxCorruption at its snapshot read) — no writer builds blindly on a
    version whose content is unknown. After repair, racing writers
    resume and the final content is exactly serial replay of their
    commits."""
    from concurrent.futures import ThreadPoolExecutor

    t = _make_table(spark, tmp_path, "race")
    victim = t.version + 1
    _crash_publish(t, victim, "")
    for make in (lambda h: h.append(
                     spark.createDataFrame([(50, 1)], "k int, v int")),
                 lambda h: h.merge_upsert(
                     spark.createDataFrame([(0, 9)], "k int, v int"), ["k"],
                     update=True)):
        with pytest.raises(TxCorruption):
            make(TxTable(spark, t.path))
    t.repair_torn_commit(victim)

    def worker(i):
        TxTable(spark, t.path).append(spark.createDataFrame(
            [(100 + i, i)], "k int, v int").coalesce(1))
    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(worker, range(3)))
    rows = {(r["k"], r["v"]) for r in TxTable(spark, t.path).read().collect()}
    assert {(100, 0), (101, 1), (102, 2)} <= rows and len(rows) == 11
    assert TxTable(spark, t.path).fsck()["ok"]


def _heavy_test_concurrent_commit_surfaces_torn_intervening_version(spark, tmp_path):
    """A writer validating intervening commits must also refuse to build
    on a torn one — optimistic concurrency reads the same wire format."""
    t = _make_table(spark, tmp_path, "conc")
    stale_version = t.version  # snapshot read BEFORE the tear appears
    _crash_publish(t, t.version + 1, "")
    inc = spark.createDataFrame([(99, 990)], "k int, v int").coalesce(1)
    staged = t._stage(inc, ["k"])
    with pytest.raises(TxCorruption):
        t._commit(staged, read_version=stale_version)


# ---------------------------------------------------------------------------
# Pooled heavy bodies (runtime-budget lever; see conftest.pool_bodies):
# independent tmp-table bodies run concurrently under the session pool,
# each keeping its own pytest row. The protocol unit tests above are
# sub-millisecond and stay plain.
# ---------------------------------------------------------------------------

_POOLED = {
    "test_torn_commit_fails_loudly_then_repairs_empty":
        lambda spark, tmp_path: _heavy_test_torn_commit_fails_loudly_then_repairs(
            spark, tmp_path, ""),
    "test_torn_commit_fails_loudly_then_repairs_midrecord":
        lambda spark, tmp_path: _heavy_test_torn_commit_fails_loudly_then_repairs(
            spark, tmp_path, '{"add": {"path": "data/part-junk.parq'),
    "test_line_boundary_tear_detected_by_required_trailer":
        _heavy_test_line_boundary_tear_detected_by_required_trailer,
    "test_repair_is_idempotent_and_bounds_checked":
        _heavy_test_repair_is_idempotent_and_bounds_checked,
    "test_fsck_healthy_table_is_clean": _heavy_test_fsck_healthy_table_is_clean,
    "test_fsck_reports_each_damage_class":
        _heavy_test_fsck_reports_each_damage_class,
    "test_fsck_time_travel_files_are_not_orphans":
        _heavy_test_fsck_time_travel_files_are_not_orphans,
    "test_torn_claim_blocks_writers_until_repaired_then_race_resumes":
        _heavy_test_torn_claim_blocks_writers_until_repaired_then_race_resumes,
    "test_concurrent_commit_surfaces_torn_intervening_version":
        _heavy_test_concurrent_commit_surfaces_torn_intervening_version,
}


@pytest.fixture(scope="module")
def torn_pool(_heavy_pool):
    futs = {n: _heavy_pool["tests.test_txlog_torn::" + n] for n in _POOLED}
    return {n: f.result() for n, f in futs.items()}


def _shim(name):
    def test(torn_pool):
        ex = torn_pool[name]
        if ex is not None:
            raise ex
    test.__name__ = name
    return test


for _n in _POOLED:
    globals()[_n] = _shim(_n)
del _n
