"""The log-level protocol action (the public Delta ``protocol`` action,
PROTOCOL.md "Protocol Evolution"): every table declares the MINIMUM
reader/writer capability required to fold its log, stamped at commit 0;
clients compare before acting and refuse ahead-of-capability tables
with a NAMED error listing the required version — on read AND write —
instead of betting on parser strictness. fsck reports the protocol
(audits stay runnable by any client); checkpoints carry it so
checkpoint-accelerated folds keep the gate."""

from __future__ import annotations

import os

import pytest

from meteomatics_e2e_data_pipeline_spark.operators.txlog import TxTable
from meteomatics_e2e_data_pipeline_spark.operators.txproto import (
    BASE_PROTOCOL, TxProtocolError, commit_payload)


def _t(spark, tmp_path, name="p"):
    return TxTable.create(
        spark, spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"),
        str(tmp_path / name), stat_cols=["k"])


def _stamp(t: TxTable, proto: dict) -> int:
    """Publish a raw protocol commit, as a FUTURE writer would."""
    v = t.version + 1
    with open(os.path.join(t.log_dir, f"{v:020d}.json"), "w",
              encoding="utf-8") as fh:
        fh.write(commit_payload([{"protocol": dict(proto)}]))
    return v


def _heavy_test_commit_zero_declares_base_protocol(spark, tmp_path):
    t = _t(spark, tmp_path)
    first = t.history()[0][0]
    assert first == {"protocol": BASE_PROTOCOL}
    assert t.detail()["protocol"] == BASE_PROTOCOL
    audit = t.fsck()
    assert audit["protocol"] == BASE_PROTOCOL and audit["protocol_supported"]


def _heavy_test_future_reader_version_refused_on_read_named_error(spark, tmp_path):
    t = _t(spark, tmp_path)
    _stamp(t, {"minReader": 99, "minWriter": 99})
    fresh = TxTable(spark, t.path)
    with pytest.raises(TxProtocolError, match="minReader=99"):
        fresh.read()
    with pytest.raises(TxProtocolError, match="minReader=99"):
        fresh.read_changes(0)
    # time travel to the PRE-upgrade snapshot stays readable (the
    # protocol is checked at the FOLDED version — the Delta rule)
    assert fresh.read(version=0).count() == 2
    # fsck still runs and REPORTS instead of raising
    audit = fresh.fsck(verify_row_counts=True)
    assert audit["protocol"] == {"minReader": 99, "minWriter": 99}
    assert not audit["protocol_supported"]


def _heavy_test_future_writer_version_refused_on_write_named_error(
        spark, tmp_path):
    t = _t(spark, tmp_path)
    _stamp(t, {"minReader": 1, "minWriter": 99})
    fresh = TxTable(spark, t.path)
    assert fresh.read().count() == 2  # still readable: only writes gated
    with pytest.raises(TxProtocolError, match="minWriter=99"):
        fresh.append(spark.createDataFrame([(3, 30)], "k int, v int"))
    with pytest.raises(TxProtocolError, match="minWriter=99"):
        fresh.delete(spark.createDataFrame([(1,)], "k int"), ["k"])
    assert fresh.version == 1  # nothing published past the gate


def _heavy_test_datasource_and_cdc_stream_respect_their_own_caps(spark, tmp_path):
    """Every tier (TxTable reader 3, plain-IO sources reader 3) refuses
    a table stamped BEYOND its declared capability with the named
    error; a table at the current ceiling (deletion vectors, 3) reads
    fine through all of them — the positive half is pinned in
    tests/test_txlog_dv.py."""
    from meteomatics_e2e_data_pipeline_spark.sources import (txlog_batch,
                                                             txlog_stream)
    t = _t(spark, tmp_path)
    _stamp(t, {"minReader": 3, "minWriter": 3})
    txlog_batch.register(spark)
    txlog_stream.register(spark)
    assert (spark.read.format("txlog").option("path", t.path)
            .load().count()) == 2          # at the ceiling: supported
    assert TxTable(spark, t.path).read().count() == 2
    _stamp(t, {"minReader": 9, "minWriter": 9})
    fresh = TxTable(spark, t.path)
    with pytest.raises(Exception, match="minReader=9"):
        fresh.read()
    with pytest.raises(Exception, match="minReader=9"):
        (spark.read.format("txlog").option("path", t.path).load().count())
    with pytest.raises(Exception, match="minReader=9"):
        spark.readStream.format("txlog_cdc").option("path", t.path).load()


def _heavy_test_protocol_survives_checkpoint_accelerated_folds(spark, tmp_path):
    t = _t(spark, tmp_path)
    _stamp(t, {"minReader": 2, "minWriter": 2})
    ckpt_v = t.write_checkpoint()
    from meteomatics_e2e_data_pipeline_spark.operators.txproto import read_checkpoint
    meta, live, txns, proto = read_checkpoint(t._io, ckpt_v)
    assert proto == {"minReader": 2, "minWriter": 2} and meta and live
    # a fold that STARTS from the checkpoint (not commit 0) still
    # carries the gate — the stamped protocol is seen without ever
    # reading the stamping commit
    df = spark.createDataFrame([(9, 90)], "k int, v int")
    fresh = TxTable(spark, t.path)
    fresh.append(df)
    assert fresh._proto == {"minReader": 2, "minWriter": 2}
    text = open(os.path.join(
        t.log_dir, f"{ckpt_v:020d}.checkpoint.json")).read()
    assert text.splitlines()[0].startswith('{"protocol"')


_POOLED = {n: fn for n, fn in [
    ("test_commit_zero_declares_base_protocol",
     _heavy_test_commit_zero_declares_base_protocol),
    ("test_future_reader_version_refused_on_read_named_error",
     _heavy_test_future_reader_version_refused_on_read_named_error),
    ("test_future_writer_version_refused_on_write_named_error",
     _heavy_test_future_writer_version_refused_on_write_named_error),
    ("test_datasource_and_cdc_stream_respect_their_own_caps",
     _heavy_test_datasource_and_cdc_stream_respect_their_own_caps),
    ("test_protocol_survives_checkpoint_accelerated_folds",
     _heavy_test_protocol_survives_checkpoint_accelerated_folds),
]}


@pytest.fixture(scope="module")
def protocol_pool(_heavy_pool):
    futs = {n: _heavy_pool["tests.test_txlog_protocol::" + n]
            for n in _POOLED}
    return {n: f.result() for n, f in futs.items()}


def _shim(name):
    def test(protocol_pool):
        ex = protocol_pool[name]
        if ex is not None:
            raise ex
    test.__name__ = name
    return test


for _n in _POOLED:
    globals()[_n] = _shim(_n)
del _n
