"""``artifacts`` — the package's one artifact cache.

- ``built_dir``: a failed build leaves nothing behind and the next call
  builds; a rewritten input publishes a new dir; two threads racing on
  one key get one published dir and leave no private build dirs.
- ``memo`` and its callers: a rewritten input rebuilds the entry in
  place (``q_docs_bpe_merges`` over a rewritten ``documents.parquet``,
  ``load_table`` over a directory table rewritten with
  ``mode("overwrite")``); unchanged inputs add no entry and run no job.
- The package has no other cache: no module outside ``artifacts.py``
  keeps a weak-keyed session map, a temp-dir build or a module-level
  ``_*_CACHE`` dict.
"""

from __future__ import annotations

import ast
import glob
import os
import shutil
import tempfile
import threading
import uuid
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import meteomatics_e2e_data_pipeline_spark as pkg
from meteomatics_e2e_data_pipeline_spark import artifacts
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
    src = tmp_path / "input"
    src.write_text("v1")
    builds = []

    def build(out: str) -> None:
        builds.append(out)
        _copy_input(out, src)

    first = artifacts.built_dir(name, [src], build)
    assert artifacts.built_dir(name, [src], build) == first
    assert len(builds) == 1
    src.write_text("v2, longer")
    second = artifacts.built_dir(name, [src], build)
    assert second != first and len(builds) == 2
    assert Path(second, "copy").read_text() == "v2, longer"


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


def test_artifacts_is_the_only_cache_in_the_package():
    root = Path(pkg.__file__).parent
    banned = {"WeakKeyDictionary", "gettempdir", "mkdtemp"}
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
    assert offenders == [], (
        "caches go through meteomatics_e2e_data_pipeline_spark.artifacts: "
        f"{offenders}")
