"""``artifacts`` — the package's one artifact cache and materialization
policy.

- ``built_dir``: a failed build leaves nothing behind and the next call
  builds; a rewritten input publishes a new dir and deletes the one it
  superseded, but not the dir of the same name over other inputs; two
  threads racing on one key get one published dir and leave no private
  build dirs.
- ``memo`` and its callers: a rewritten input rebuilds the entry in
  place (``q_docs_bpe_merges`` over a rewritten ``documents.parquet``,
  ``load_table`` over a directory table rewritten with
  ``mode("overwrite")``); unchanged inputs add no entry and run no job.
- ``materialize``/``scope``: after four ``fold_cdc_near_dup`` windows
  applied to a near-dup index table, and after two
  ``docs_scrub_fixpoint`` runs under ``scope()``, no frame they shared
  is still cached; a frame shared under another thread's
  open scope stays cached when this thread's scope exits.
- The package has no other cache: no module outside ``artifacts.py``
  keeps a weak-keyed session map, a temp-dir build or a module-level
  ``_*_CACHE`` dict, and none persists, checkpoints or unpersists a
  frame or names ``StorageLevel``.
"""

from __future__ import annotations

import ast
import glob
import os
import shutil
import sys
import tempfile
import threading
import uuid
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

import meteomatics_e2e_data_pipeline_spark as pkg
from meteomatics_e2e_data_pipeline_spark import artifacts
from meteomatics_e2e_data_pipeline_spark.operators import neardup
from meteomatics_e2e_data_pipeline_spark.plans import llmdata
from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table


@pytest.fixture
def name():
    """A key no other test builds; its published dirs are removed after."""
    n = f"test_{uuid.uuid4().hex[:8]}"
    yield n
    for p in glob.glob(os.path.join(tempfile.gettempdir(),
                                    f"spark_graft_{n}_*")):
        shutil.rmtree(p, ignore_errors=True)


def _dirs(name: str) -> tuple[list[str], list[str]]:
    """(published, private build) dirs of ``name`` under the temp dir."""
    found = glob.glob(os.path.join(tempfile.gettempdir(),
                                   f"spark_graft_{name}_*"))
    private = [p for p in found if f"_{name}_build_" in p]
    return sorted(set(found) - set(private)), private


def _copy_input(out: str, src: Path) -> None:
    os.mkdir(out)
    shutil.copy(src, os.path.join(out, "copy"))


def test_failed_build_leaves_nothing_and_next_call_builds(tmp_path, name):
    src = tmp_path / "input"
    src.write_text("v1")

    def fail(out: str) -> None:
        _copy_input(out, src)
        raise RuntimeError("build-time contract broken")

    with pytest.raises(RuntimeError, match="contract broken"):
        artifacts.built_dir(name, [src], fail)
    assert _dirs(name) == ([], [])

    path = artifacts.built_dir(name, [src], lambda out: _copy_input(out, src))
    assert Path(path, "copy").read_text() == "v1"
    assert _dirs(name) == ([path], [])


def test_rewritten_input_publishes_a_new_dir(tmp_path, name):
    src, other = tmp_path / "input", tmp_path / "other"
    src.write_text("v1")
    other.write_text("v1")
    builds = []

    def build(out: str) -> None:
        builds.append(out)
        _copy_input(out, src)

    kept = artifacts.built_dir(name, [other], build)
    first = artifacts.built_dir(name, [src], build)
    assert artifacts.built_dir(name, [src], build) == first
    assert len(builds) == 2
    src.write_text("v2, longer")
    second = artifacts.built_dir(name, [src], build)
    assert second != first and len(builds) == 3
    assert Path(second, "copy").read_text() == "v2, longer"
    # the superseded dir of (name, [src]) is gone; (name, [other]) stays
    assert _dirs(name) == (sorted([kept, second]), [])


def test_racing_builders_publish_one_dir(tmp_path, name):
    src = tmp_path / "input"
    src.write_text("v1")
    both_building = threading.Barrier(2, timeout=60)

    def build(out: str) -> None:
        _copy_input(out, src)
        both_building.wait()

    paths, errors = [], []

    def worker() -> None:
        try:
            paths.append(artifacts.built_dir(name, [src], build))
        except BaseException as ex:  # re-raised below
            errors.append(ex)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(paths) == 2 and paths[0] == paths[1]
    assert _dirs(name) == ([paths[0]], [])
    assert Path(paths[0], "copy").read_text() == "v1"


def test_memo_rebuilds_in_place_on_changed_input(spark, tmp_path):
    src = tmp_path / "input"
    src.write_text("v1")
    key = ("test_memo", str(tmp_path))
    builds = []

    def build():
        builds.append(src.read_text())
        return object()

    first = artifacts.memo(spark, key, [src], build)
    assert artifacts.memo(spark, key, [src], build) is first
    src.write_text("v2, longer")
    second = artifacts.memo(spark, key, [src], build)
    assert second is not first and builds == ["v1", "v2, longer"]
    assert artifacts._SESSIONS[spark][key][1] is second


def test_bpe_merges_follow_a_rewritten_corpus(spark, sf_smoke, tmp_path):
    live, fresh = tmp_path / "live", tmp_path / "fresh"
    live.mkdir()
    fresh.mkdir()
    shutil.copy(os.path.join(sf_smoke, "documents.parquet"), live)
    llmdata.q_docs_bpe_merges(spark, str(live)).collect()
    docs = pq.read_table(live / "documents.parquet")
    half = docs.slice(0, docs.num_rows // 2)
    pq.write_table(half, live / "documents.parquet")
    pq.write_table(half, fresh / "documents.parquet")
    assert (sorted(llmdata.q_docs_bpe_merges(spark, str(live)).collect())
            == sorted(llmdata.q_docs_bpe_merges(spark, str(fresh)).collect()))


def test_load_table_sees_an_overwritten_directory_table(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.range(10).write.parquet(path)
    assert load_table(spark, str(tmp_path), "region").count() == 10
    spark.range(4).write.mode("overwrite").parquet(path)
    assert load_table(spark, str(tmp_path), "region").count() == 4


def test_second_run_adds_no_entries_and_runs_no_jobs(spark, sf_smoke,
                                                    tmp_path):
    sf_dir = str(tmp_path)
    shutil.copy(os.path.join(sf_smoke, "documents.parquet"), sf_dir)
    queries = (llmdata.q_docs_near_dup_pairs,
               llmdata.q_docs_quality_classifier,
               llmdata.q_docs_classifier_auc,
               llmdata.q_docs_classifier_calibration,
               llmdata.q_docs_classifier_threshold)

    def own_entries() -> dict:
        return {k: v[1] for k, v in list(artifacts._SESSIONS[spark].items())
                if sf_dir in k}

    first = [sorted(q(spark, sf_dir).collect()) for q in queries]
    entries = own_entries()
    assert entries
    sc = spark.sparkContext
    group = f"memo-hit-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "second run: query construction only")
    try:
        frames = [q(spark, sf_dir) for q in queries]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    again = own_entries()
    assert again.keys() == entries.keys()
    assert all(again[k] is entries[k] for k in entries)
    assert [sorted(f.collect()) for f in frames] == first


def _module_level_cache_dicts(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(node, ast.AnnAssign)
                   else [])
        names += [t.id for t in targets if isinstance(t, ast.Name)
                  and t.id.startswith("_") and t.id.endswith("_CACHE")]
    return names


@pytest.fixture
def shared_frames(monkeypatch) -> list:
    """Every frame ``materialize(df, "shared")`` returns on this thread
    while the test runs (pooled bodies on other threads are not
    recorded)."""
    frames, real, me = [], artifacts.materialize, threading.get_ident()

    def recording(df, kind):
        out = real(df, kind)
        if kind == "shared" and threading.get_ident() == me:
            frames.append(out)
        return out

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith(pkg.__name__)
                and getattr(mod, "materialize", None) is real):
            monkeypatch.setattr(mod, "materialize", recording)
    return frames


def _still_cached(frames: list) -> list:
    return [f for f in frames if f.storageLevel != StorageLevel.NONE]


def test_cdc_folds_release_what_they_share(spark, tmp_path, shared_frames):
    tag = uuid.uuid4().hex[:8]  # plans no other test caches

    def text(i: int, tweak: str = "") -> str:
        return " ".join(f"{tag}w{i % 5}x{j}" for j in range(12)) + tweak

    sch = "doc_id long, text string"
    docs = spark.createDataFrame([(i, text(i)) for i in range(10)], sch)
    st = neardup.init_near_dup_table(spark, docs, str(tmp_path / "state"))
    for w in range(4):
        changes = spark.createDataFrame(
            [(100 + w, text(w, " extra"), "insert"),
             (w, text(w), "delete")], f"{sch}, _change_type string")
        st.apply_delta(*neardup.fold_cdc_near_dup(changes, st))
    assert neardup.unpack_near_dup_state(st.read())["pairs"].count() > 0
    assert len(shared_frames) >= 4 * 3
    assert _still_cached(shared_frames) == []


def test_scrub_fixpoint_runs_release_under_scope(spark, sf_smoke, tmp_path,
                                                 shared_frames):
    sf_dir = str(tmp_path)
    shutil.copy(os.path.join(sf_smoke, "documents.parquet"), sf_dir)
    for _ in range(2):
        with artifacts.scope():
            llmdata.q_docs_scrub_fixpoint(spark, sf_dir).collect()
    assert shared_frames
    assert _still_cached(shared_frames) == []


def test_scope_leaves_another_threads_frames_cached(spark):
    tag = uuid.uuid4().hex[:8]

    def frame(mult: int):
        return spark.range(9).selectExpr(f"id * {mult} AS x",
                                         f"'{tag}' AS tag")

    opened, done, theirs = threading.Event(), threading.Event(), []

    def other() -> None:
        with artifacts.scope():
            theirs.append(artifacts.materialize(frame(3), "shared"))
            opened.set()
            done.wait(60)

    t = threading.Thread(target=other)
    t.start()
    try:
        assert opened.wait(60)
        with artifacts.scope():
            mine = artifacts.materialize(frame(2), "shared")
            assert mine.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert mine.storageLevel == StorageLevel.NONE
        assert theirs[0].storageLevel == StorageLevel.MEMORY_AND_DISK
    finally:
        done.set()
        t.join()
    assert _still_cached(theirs) == []
    with pytest.raises(ValueError, match="unknown materialize kind"):
        artifacts.materialize(frame(4), "cache")


def test_artifacts_is_the_only_cache_in_the_package():
    root = Path(pkg.__file__).parent
    banned = {"WeakKeyDictionary", "gettempdir", "mkdtemp", "StorageLevel"}
    banned_calls = {"persist", "cache", "localCheckpoint", "checkpoint",
                    "unpersist"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "artifacts.py" and path.parent == root:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        used = {n.attr if isinstance(n, ast.Attribute) else n.id
                for n in ast.walk(tree)
                if isinstance(n, (ast.Attribute, ast.Name))}
        used |= {a.name for n in ast.walk(tree)
                 if isinstance(n, ast.ImportFrom) for a in n.names}
        rel = path.relative_to(root)
        offenders += [f"{rel}: {u}" for u in sorted(used & banned)]
        offenders += [f"{rel}: {c}" for c in _module_level_cache_dicts(tree)]
        offenders += [f"{rel}:{n.lineno}: .{n.func.attr}()"
                      for n in ast.walk(tree)
                      if isinstance(n, ast.Call)
                      and isinstance(n.func, ast.Attribute)
                      and n.func.attr in banned_calls]
    assert offenders == [], (
        "caches and materializations go through "
        f"meteomatics_e2e_data_pipeline_spark.artifacts: {offenders}")
