"""Every queries() entry with an oracle must match DuckDB at sf0.01 —
the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

import __spark_entry__ as entrymod
from meteomatics_e2e_data_pipeline_spark import artifacts
from tests.oracle_util import compare

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


@pytest.fixture(scope="module")
def mirror_results(spark, sf_oracle) -> "dict[str, tuple]":
    """All 200+ mirror comparisons computed ONCE on a thread pool —
    Spark job submission is thread-safe and the suite's mirror time is
    dominated by per-job round-trip latency, not CPU, so 8 concurrent
    collects overlap it (the r10 runtime-budget lever). Each query
    still gets its own pytest row below: this fixture only moves the
    WORK, never the verdicts — exceptions are stored per query and
    re-raised in the owning test. Each compare() opens its own DuckDB
    connection, so oracle runs are thread-isolated too. Each query runs
    under ``artifacts.scope()``, so every result is also checked with
    its shared frames released as soon as it is read."""
    def run(name: str):
        try:
            with artifacts.scope():
                df = QUERIES[name](spark, sf_oracle)
                if name not in ORACLES:
                    return ("rows_only", df.count())
                return ("cmp", compare(df, ORACLES[name], sf_oracle))
        except Exception as ex:  # re-raised by the owning test row
            return ("err", ex)

    names = sorted(QUERIES)
    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(zip(names, pool.map(run, names)))


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(mirror_results, name):
    kind, res = mirror_results[name]
    if kind == "err":
        raise res
    if kind == "rows_only":
        assert res >= 0  # rows-only check, mirrors the driver
        return
    ok, msg = res
    assert ok, f"{name}: {msg}"


def test_parity_mirror_catches_cent_level_drift(spark, sf_oracle):
    """The local gate must be as strict as the driver's value hash: a
    deliberately injected cent-level error has to fail, and a HUGEINT
    oracle type has to be flagged before it ever reaches the driver."""
    from tests.oracle_util import compare

    df = spark.createDataFrame([("a", 12.34)], "k string, v double")
    ok, _ = compare(df, "SELECT 'a' AS k, 12.34::DOUBLE AS v", sf_oracle)
    assert ok
    ok, msg = compare(df, "SELECT 'a' AS k, 12.35::DOUBLE AS v", sf_oracle)
    assert not ok and "values differ" in msg
    # driver failure mode from round 2: HUGEINT coerces to float64 in the
    # driver's pandas fetch and breaks the hash even when values match
    big = spark.createDataFrame([(1,)], "v long")
    ok, msg = compare(big, "SELECT 1::HUGEINT AS v", sf_oracle)
    assert not ok and "HUGEINT" in msg


def test_gate_slots_are_all_oracle_backed_and_unique():
    """Structural guard on the 50-slot driver gate (r9 verdict #2's
    wasted-slot flag, made unrepeatable): every one of the first 50
    queries() entries must have an oracle — a rows-only query in the
    gate can only ever return `no_oracle` and burns an attestation
    slot — _VERIFY_FIRST must hold exactly 50 unique existing names,
    and every declared query must be callable."""
    import __spark_entry__ as e

    names = list(QUERIES)
    head = names[:50]
    assert len(e._VERIFY_FIRST) == 50
    assert len(set(e._VERIFY_FIRST)) == 50
    assert all(k in QUERIES for k in e._VERIFY_FIRST)
    missing = [k for k in head if k not in ORACLES]
    assert not missing, f"rows-only queries occupy gate slots: {missing}"
