"""``operators.incremental.net_changes`` — the one netting of a change
window — equals the ``exceptAll``-both-ways pair it replaced, as
multisets: ``ins.exceptAll(dels)`` tagged insert plus
``dels.exceptAll(ins)`` tagged delete.

Feeds are generated over a tiny value domain so rows repeat: duplicate
rows, null keys and values, NaN and -0.0 doubles, and tags other than
insert/delete (update images), which both sides must ignore. Each window
shape is forced once per mode: mixed, all-cancel (every row inserted and
deleted equally often), insert-only and delete-only.

Default lane: a few derandomized examples per mode. Slow lane
(``pytest -m slow``): the wide randomized sweep.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from meteomatics_e2e_data_pipeline_spark.operators.incremental import \
    net_changes

COLS = ["k", "v", "s"]
SCHEMA = "k int, v double, s string, _change_type string"
MODES = ("mixed", "all_cancel", "insert_only", "delete_only")
OTHER_TAGS = ("update_preimage", "update_postimage")

_ROW = st.tuples(st.one_of(st.none(), st.integers(0, 2)),
                 st.sampled_from([None, 0.0, -0.0, 1.5, math.nan]),
                 st.sampled_from([None, "a", "b"]))


def _feed(data, mode: str) -> list[tuple]:
    pool = data.draw(st.lists(_ROW, min_size=1, max_size=4))
    pick = st.integers(0, len(pool) - 1)
    if mode == "all_cancel":
        rows = []
        for i, n in data.draw(st.lists(st.tuples(pick, st.integers(1, 3)),
                                       max_size=6)):
            rows += [(*pool[i], "insert")] * n + [(*pool[i], "delete")] * n
    else:
        tags = {"mixed": ("insert", "delete"),
                "insert_only": ("insert",),
                "delete_only": ("delete",)}[mode]
        rows = [(*pool[i], t) for i, t in data.draw(st.lists(
            st.tuples(pick, st.sampled_from(tags)), max_size=12))]
    others = data.draw(st.lists(st.tuples(pick, st.sampled_from(OTHER_TAGS)),
                                max_size=3))
    rows += [(*pool[i], t) for i, t in others]
    return data.draw(st.permutations(rows))


def _canon(v):
    """NaN equals NaN, and -0.0 stays apart from 0.0."""
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else (v, math.copysign(1.0, v))
    return v


def _ms(df) -> Counter:
    return Counter(tuple(_canon(x) for x in r) for r in df.collect())


def _check(spark, data, mode: str) -> None:
    changes = spark.createDataFrame(_feed(data, mode), SCHEMA)
    tag = F.col("_change_type")
    ins = changes.filter(tag == "insert").select(*COLS)
    dels = changes.filter(tag == "delete").select(*COLS)
    want = (ins.exceptAll(dels).withColumn("_change_type", F.lit("insert"))
            .unionByName(dels.exceptAll(ins)
                         .withColumn("_change_type", F.lit("delete"))))
    got = net_changes(changes, COLS)
    assert got.columns == [*COLS, "_change_type"]
    got_ms = _ms(got)
    assert got_ms == _ms(want)
    if mode == "all_cancel":
        assert not got_ms
    if mode == "insert_only":
        assert {r[-1] for r in got_ms} <= {"insert"}
    if mode == "delete_only":
        assert {r[-1] for r in got_ms} <= {"delete"}


_HEALTH = [HealthCheck.function_scoped_fixture, HealthCheck.too_slow]


@pytest.mark.parametrize("mode", MODES)
@settings(max_examples=3, deadline=None, derandomize=True,
          suppress_health_check=_HEALTH)
@given(data=st.data())
def test_net_changes_equals_except_all_pair(spark, mode, data):
    _check(spark, data, mode)


@pytest.mark.slow
@pytest.mark.parametrize("mode", MODES)
@settings(max_examples=40, deadline=None, suppress_health_check=_HEALTH)
@given(data=st.data())
def test_net_changes_equals_except_all_pair_sweep(spark, mode, data):
    _check(spark, data, mode)
