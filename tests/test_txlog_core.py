"""The one transaction-log replay core (operators/txproto.py) behind its
two log IO adapters: plain ``os`` IO (every local path) and Hadoop FS
over py4j (``scheme://`` paths).

Logs are generated directly with ``commit_payload`` — add, remove, dv,
meta, txn, protocol and info actions, checkpoints at random versions
(written through either adapter), a torn checkpoint, skewed commit
mtimes and in-commit timestamps — and three readers must agree on every
version: ``TxTable(spark, p)``, ``TxTable(spark, "file://" + p)`` and
the plain-IO ``replay``. An independent fold-from-commit-0 model pins
what they agree on. A torn commit tail must raise ``TxCorruption`` on
every path.

Default lane: a derandomized small-example run. Slow lane
(``pytest -m slow``): the wide randomized sweep.
"""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from meteomatics_e2e_data_pipeline_spark.operators.txlog import TxTable
from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
    LocalLogIO, TxCorruption, checkpoint_name, commit_name, commit_payload,
    read_checkpoint, replay, version_at)

_SCHEMA = {"type": "struct", "fields": [
    {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
_BASE_S = 1_700_000_000


def _meta(ict: bool, tag: int) -> dict:
    return {"schema": _SCHEMA, "stat_cols": ["k"],
            "properties": {"inCommitTimestamps": ict, "tag": tag}}


def _draw_commits(data, max_commits: int) -> list[list[dict]]:
    """A random but well-formed history: removes and dvs mostly target
    live files (sometimes dead ones, which the fold must ignore), txn
    versions may go backwards (the fold keeps the max per appId),
    protocols stay within this client's capability."""
    draw = data.draw
    n = draw(st.integers(2, max_commits), label="commits")
    live: list[str] = []
    dead: list[str] = []
    n_files = 0

    def new_add() -> dict:
        nonlocal n_files
        n_files += 1
        p = f"part-{n_files:03d}.parquet"
        live.append(p)
        return {"add": {"path": p, "numRecords": draw(st.integers(1, 9)),
                        "stats": {"k": [0, n_files]}}}

    commits = [[{"protocol": {"minReader": 1, "minWriter": 2}},
                {"meta": _meta(False, 0)}]
               + [new_add() for _ in range(draw(st.integers(1, 3)))]]
    for v in range(1, n):
        actions: list[dict] = []
        for _ in range(draw(st.integers(0, 4))):
            kind = draw(st.sampled_from(
                ["add", "add", "remove", "dv", "dv", "meta", "txn",
                 "protocol"]))
            if kind == "add":
                if dead and draw(st.booleans()):  # restore-style re-add
                    p = dead.pop(draw(st.integers(0, len(dead) - 1)))
                    live.append(p)
                    actions.append({"add": {"path": p, "numRecords": 1}})
                else:
                    actions.append(new_add())
            elif kind == "remove":
                pool = live if live and draw(st.integers(0, 4)) else dead
                if not pool:
                    continue
                p = draw(st.sampled_from(pool))
                if p in live:
                    live.remove(p)
                    dead.append(p)
                rm = {"path": p}
                if draw(st.integers(0, 3)) == 0:
                    rm["dataChange"] = False
                actions.append({"remove": rm})
            elif kind == "dv":
                pool = live or dead
                if not pool:
                    continue
                keys = draw(st.lists(st.integers(0, 6), min_size=1,
                                     max_size=4, unique=True))
                actions.append({"dv": {"path": draw(st.sampled_from(pool)),
                                       "keyCols": ["k"],
                                       "keys": [[k] for k in keys]}})
            elif kind == "meta":
                actions.insert(0, {"meta": _meta(draw(st.booleans()), v)})
            elif kind == "txn":
                actions.append({"txn": {
                    "appId": draw(st.sampled_from(["a", "b"])),
                    "version": draw(st.integers(0, 20))}})
            else:
                actions.insert(0, {"protocol": {
                    "minReader": draw(st.integers(1, 4)),
                    "minWriter": draw(st.integers(2, 5))}})
        if draw(st.integers(0, 4)):  # provenance, with writer clock skew
            actions.append({"info": {"op": "gen", "ts": _BASE_S + 10 * v
                                     + draw(st.integers(-15, 15))}})
        commits.append(actions)
    return commits


def _model(commits: list[list[dict]], v: int) -> tuple:
    """Independent fold from commit 0 (no checkpoints)."""
    meta: dict = {}
    live: dict = {}
    txns: dict = {}
    proto = None
    for actions in commits[:v + 1]:
        for a in actions:
            if "meta" in a:
                meta = a["meta"]
            elif "protocol" in a:
                proto = a["protocol"]
            elif "add" in a:
                live[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
            elif "txn" in a:
                app = a["txn"]["appId"]
                txns[app] = max(txns.get(app, -1), a["txn"]["version"])
            elif "dv" in a and a["dv"]["path"] in live:
                cur = live[a["dv"]["path"]]
                keys = list((cur.get("dv") or {"keys": []})["keys"])
                keys += [k for k in a["dv"]["keys"] if k not in keys]
                live[a["dv"]["path"]] = {
                    **cur, "dv": {"keyCols": ["k"], "keys": keys}}
    return v, meta, live, txns, proto


def _outcome(fn, *args):
    try:
        return ("ok", fn(*args))
    except ValueError as exc:
        return ("ValueError", str(exc).split(":")[-1])


def _check_agreement(spark, root: str, data, max_commits: int) -> None:
    p = os.path.join(root, "t")
    log = os.path.join(p, "_txlog")
    os.makedirs(log)
    commits = _draw_commits(data, max_commits)
    latest = len(commits) - 1
    for v, actions in enumerate(commits):
        with open(os.path.join(log, commit_name(v)), "w",
                  encoding="utf-8") as fh:
            fh.write(commit_payload(actions))
    readers = {"local": TxTable(spark, p),
               "hadoop": TxTable(spark, "file://" + p)}
    # checkpoints at random versions, written through either adapter
    for v in sorted(data.draw(st.sets(st.integers(0, latest), max_size=3),
                              label="checkpoints")):
        readers[data.draw(st.sampled_from(sorted(readers)))
                ].write_checkpoint(v)
    # a torn checkpoint (mid-line or at a line boundary) that every
    # reader must skip
    torn_v = data.draw(st.integers(0, latest), label="torn_checkpoint")
    ck = os.path.join(log, checkpoint_name(torn_v))
    if not os.path.exists(ck):
        lines = [json.dumps({"meta": _meta(False, -1)}, sort_keys=True),
                 json.dumps({"add": {"path": "ghost.parquet"}}),
                 json.dumps({"count": 2})]
        cut = data.draw(st.integers(1, len(lines) - 1))
        body = "\n".join(lines[:cut])
        if data.draw(st.booleans()):
            body = body[:-3]
        with open(ck, "w", encoding="utf-8") as fh:
            fh.write(body)
        with pytest.raises(ValueError):
            read_checkpoint(LocalLogIO(p), torn_v)
    # commit mtimes: skewed, with sub-millisecond parts
    for v in range(latest + 1):
        ns = ((_BASE_S + 10 * v + data.draw(st.integers(-12, 12))) * 10**9
              + data.draw(st.integers(0, 10**9 - 1)))
        os.utime(os.path.join(log, commit_name(v)), ns=(ns, ns))

    for v in range(latest + 1):
        want = _model(commits, v)
        assert tuple(replay(LocalLogIO(p), v)) == want, v
        for name, t in readers.items():
            assert tuple(t._fold(v)) == want, (name, v)
            assert t._snapshot(v, raw=True) == want[:3], (name, v)
    for app in ("a", "b", "c"):
        assert {t.last_txn(app) for t in readers.values()} == {
            _model(commits, latest)[3].get(app)}

    listed = LocalLogIO(p).list()
    probes = {_BASE_S - 100.0, _BASE_S + 10.0 * latest + 100.0}
    for v in range(latest + 1):
        m = listed[commit_name(v)]
        probes |= {m, m - 0.0005, m + 0.0005}
        for a in commits[v]:
            if "info" in a:
                probes |= {a["info"]["ts"], a["info"]["ts"] - 0.5}
    for ts in sorted(probes):
        got = {name: _outcome(t.version_at, ts)
               for name, t in readers.items()}
        got["plain"] = _outcome(version_at, LocalLogIO(p), ts)
        assert len(set(got.values())) == 1, (ts, got)

    # the core regenerates a torn checkpoint in place
    if os.path.exists(ck):
        readers[data.draw(st.sampled_from(sorted(readers)))
                ].write_checkpoint(torn_v)
        assert read_checkpoint(LocalLogIO(p), torn_v)[0] == \
            _model(commits, torn_v)[1]

    # a torn commit tail refuses on every path
    tail = commit_payload([{"add": {"path": "late.parquet"}},
                           {"info": {"op": "gen", "ts": 0}}])
    tear = data.draw(st.sampled_from(["empty", "mid_line", "boundary"]))
    torn = {"empty": "",
            "mid_line": tail[:len(tail) // 2],
            "boundary": tail.rsplit("\n", 1)[0]}[tear]
    with open(os.path.join(log, commit_name(latest + 1)), "w",
              encoding="utf-8") as fh:
        fh.write(torn)
    with pytest.raises(TxCorruption):
        replay(LocalLogIO(p))
    for t in (TxTable(spark, p), TxTable(spark, "file://" + p)):
        with pytest.raises(TxCorruption):
            t._snapshot()


_SMALL = settings(max_examples=5, deadline=None, derandomize=True,
                  suppress_health_check=[
                      HealthCheck.function_scoped_fixture])


@_SMALL
@given(data=st.data())
def test_log_io_adapters_agree(spark, tmp_path_factory, data):
    _check_agreement(spark, str(tmp_path_factory.mktemp("core")), data,
                     max_commits=8)


@pytest.mark.slow
@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(data=st.data())
def test_log_io_adapters_agree_sweep(spark, tmp_path_factory, data):
    _check_agreement(spark, str(tmp_path_factory.mktemp("core")), data,
                     max_commits=24)
