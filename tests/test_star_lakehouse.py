"""CDC-maintained weather star schema (plans/star_lakehouse.py): the
lakehouse tier composed with the reference surface — bronze → txlog
staging → change-feed folds into the four facts and the dims, proven
multiset-EQUAL to the batch plans/weather.py rebuild after every ingest,
including an out-of-order (late-reissuance) ingest and an injected crash
mid-fold."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from meteomatics_e2e_data_pipeline_spark.operators.dedupe import \
    latest_record_wins
from meteomatics_e2e_data_pipeline_spark.plans import star_lakehouse as sl
from meteomatics_e2e_data_pipeline_spark.plans import weather
from meteomatics_e2e_data_pipeline_spark.sources.fixtures import (
    default_bronze_root,
    ensure_fixtures,
)


def _ms(df):
    return Counter(tuple(r) for r in df.collect())


def _assert_star_equals_batch(spark, star):
    """Every maintained table ≡ its batch rebuild over the staging
    snapshot (the dbt full-refresh semantics the fold must reproduce)."""
    stg = star.stg.read()
    for (sun, hist), name in sl.FACT_NAMES.items():
        want = weather.build_fact(stg, sun=sun, history=hist)
        got = star.facts[name].read()
        assert _ms(got) == _ms(want), f"{name} diverged from batch"
    # winners state ≡ the W1 ranking over the P5 window
    lo, hi = sl._window_bounds(weather.AS_OF)
    recent = stg.filter(
        F.col("reading_datetime").between(F.lit(lo), F.lit(hi)))
    want_w = latest_record_wins(recent, sl.STG_KEYS, sl.STG_ORDER)
    assert _ms(star.winners.read()) == _ms(want_w)
    # dims ≡ the batch DISTINCT projections (append-only history)
    assert _ms(star.dim_location.read()) == \
        _ms(weather.dim_location_from_stg(stg))
    assert _ms(star.dim_condition.read()) == \
        _ms(weather.dim_condition_from_stg(stg))


def _heavy_test_cdc_maintained_star_equals_batch_rebuild(spark, tmp_path):
    """N ingests — including run-date 03-27 arriving LAST (a stale
    late-arriving issuance that must lose the W1 ranking for overlapping
    readings and win it for its own fresh ones) — each followed by a
    maintenance fold; the star equals the batch rebuild after every
    fold. 03-29's ingest also flips forecast rows to history rows for
    readings both runs cover (the P7 theta is a property of the winner),
    exercising the cross-fact family move."""
    root = ensure_fixtures()
    star = sl.create_weather_star(spark, str(tmp_path / "star"))

    # out-of-order ingest: 26, 28+29 together, then 27 late. The full
    # 7-table equality sweep runs after the FIRST fold (the bootstrap
    # shape) and after the LAST (the contested late-reissuance shape);
    # the middle fold is covered by the final state being path-
    # independent (runtime budget: each sweep is 7 multiset collects).
    patterns = ("*2025-03-26*", "*2025-03-2[89]*", "*2025-03-27*")
    for i, pattern in enumerate(patterns):
        v = sl.ingest_bronze_increment(
            spark, star, f"{root}/*/*/weather_raw_{pattern}.json")
        applied = sl.maintain_weather_star(spark, star)
        assert applied == v == star.stg.version
        if i != 1:
            _assert_star_equals_batch(spark, star)

    # replaying an already-ingested glob stages nothing, folds nothing
    v = star.stg.version
    sl.ingest_bronze_increment(spark, star,
                               f"{root}/*/*/weather_raw_*.json")
    assert star.stg.version == v
    assert sl.maintain_weather_star(spark, star) == v

    # the late 03-27 issuance genuinely contested the window: some of
    # its readings lost to newer runs (stale reissue) and its fresh
    # history rows won — i.e. the fact tables are non-trivial
    assert star.facts["fact_weather_params_history"].read().count() > 0
    assert star.facts["fact_sun_times_forecast"].read().count() > 0


def _heavy_test_star_fold_is_exactly_once_across_crash_and_bounded_catchup(
        spark, tmp_path):
    """A crash between the fact commits and the winners commit replays
    the fold deterministically: fact tables skip via their txn guard,
    winners lands, and the star converges to the batch rebuild. A
    bounded catch-up (versions_per_fold=1) over several staged commits
    reaches the same state as one big fold."""
    root = ensure_fixtures()
    star = sl.create_weather_star(spark, str(tmp_path / "star"))
    sl.ingest_bronze_increment(
        spark, star, f"{root}/*/*/weather_raw_*2025-03-26*.json")
    sl.maintain_weather_star(spark, star)

    sl.ingest_bronze_increment(
        spark, star, f"{root}/*/*/weather_raw_*2025-03-28*.json")

    real = star.winners.apply_changes
    calls = {"n": 0}

    def crash_once(*a, **k):
        calls["n"] += 1
        raise RuntimeError("injected crash before the winners commit")

    star.winners.apply_changes = crash_once
    with pytest.raises(RuntimeError, match="injected crash"):
        sl.maintain_weather_star(spark, star)
    star.winners.apply_changes = real
    assert calls["n"] == 1
    # facts committed, winners floor did not advance — replay converges
    assert star.applied_version < star.stg.version
    sl.maintain_weather_star(spark, star)
    _assert_star_equals_batch(spark, star)

    # bounded catch-up: two more ingest commits, folded one version at
    # a time, equals the all-at-once fold state
    for pattern in ("*2025-03-29*", "*2025-03-27*"):
        sl.ingest_bronze_increment(
            spark, star, f"{root}/*/*/weather_raw_{pattern}.json")
    sl.maintain_weather_star(spark, star, versions_per_fold=1)
    assert star.applied_version == star.stg.version
    _assert_star_equals_batch(spark, star)


def _heavy_test_star_fold_failed_write_waits_all_and_replays_exactly(
        spark, tmp_path):
    """The fold's six dim and fact writes run concurrently. One fact
    write failing re-raises ITS error only after every other write has
    finished, the winners floor does not advance, and a re-run — with
    any subset of the six already committed — yields, per table, the
    same star as an uninterrupted fold of the same window."""
    root = ensure_fixtures()
    glob = f"{root}/*/*/weather_raw_*2025-03-2[68]*.json"
    star = sl.create_weather_star(spark, str(tmp_path / "star"))
    twin = sl.create_weather_star(spark, str(tmp_path / "twin"))
    for s in (star, twin):
        sl.ingest_bronze_increment(spark, s, glob)
    sl.maintain_weather_star(spark, twin)

    victim = "fact_weather_params_history"
    finished = []

    def failing(*a, **k):
        raise RuntimeError("injected fact write failure")

    def recording(name, fn):
        def run(*a, **k):
            out = fn(*a, **k)
            finished.append(name)
            return out
        return run

    others = {"dim_location": star.dim_location,
              "dim_condition": star.dim_condition,
              **{n: t for n, t in star.facts.items() if n != victim}}
    for name, t in others.items():
        attr = "apply_changes" if name in star.facts else "merge_upsert"
        setattr(t, attr, recording(name, getattr(t, attr)))
    star.facts[victim].apply_changes = failing
    with pytest.raises(RuntimeError, match="injected fact write failure"):
        sl.maintain_weather_star(spark, star)
    # every other write ran to completion before the error surfaced
    assert sorted(finished) == sorted(others)
    assert star.applied_version == 0
    for t in (star.facts[victim], *others.values()):
        vars(t).pop("apply_changes", None)
        vars(t).pop("merge_upsert", None)

    assert sl.maintain_weather_star(spark, star) == star.stg.version

    def tables(s):
        return {"winners": s.winners, "dim_location": s.dim_location,
                "dim_condition": s.dim_condition, **s.facts}
    for name, t in tables(star).items():
        assert _ms(t.read()) == _ms(tables(twin)[name].read()), name


#: Spark jobs of one ingest + star fold + rollup fold of the 03-26 run
#: date on an empty star (``_heavy_test_star_fold_jobs_stay_in_callers_
#: group``). Measured in isolation: 127 before the fold netted each
#: window once and ran its dim/fact writes concurrently, 91 after.
FOLD_CYCLE_JOB_BUDGET = 91


def _heavy_test_star_fold_jobs_stay_in_callers_group(spark, tmp_path):
    """One ingest + ``maintain_weather_star`` + ``maintain_city_daily_
    rollup`` under the caller's job group: every write — the six that
    run on their own threads included — runs under that group, so all
    of the cycle's jobs are attributed to the caller (job-group scoped
    profiling and cancellation keep working), and the cycle stays
    within its job budget."""
    root = ensure_fixtures()
    star = sl.create_weather_star(spark, str(tmp_path / "star"))
    sc = spark.sparkContext
    group = f"star-fold-{tmp_path.name}"
    seen = []

    def recording(fn):
        def run(*a, **k):
            seen.append(sc.getLocalProperty("spark.jobGroup.id"))
            out = fn(*a, **k)
            seen.append(sc.getLocalProperty("spark.jobGroup.id"))
            return out
        return run

    star.winners.apply_changes = recording(star.winners.apply_changes)
    for t in star.facts.values():
        t.apply_changes = recording(t.apply_changes)
    for t in (star.dim_location, star.dim_condition):
        t.merge_upsert = recording(t.merge_upsert)
    sc.setJobGroup(group, "one star maintenance cycle")
    try:
        sl.ingest_bronze_increment(
            spark, star, f"{root}/*/*/weather_raw_*2025-03-26*.json")
        sl.maintain_weather_star(spark, star)
        sl.maintain_city_daily_rollup(spark, star)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # 7 writes (2 dims, 4 facts, winners), each checked on entry and exit
    assert seen == [group] * 14
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= FOLD_CYCLE_JOB_BUDGET, n_jobs

def _heavy_test_run_star_pipeline_cycles_with_compaction(spark, tmp_path):
    """The one-call cycle (ingest -> fold -> OPTIMIZE -> dbt-equivalent
    checks): two cycles with per-version compaction still equal the
    batch rebuild — compaction's layout-only commits are invisible to
    the maintenance floor — and a replayed cycle ingests and folds
    nothing."""
    root = ensure_fixtures()
    sroot = str(tmp_path / "star")
    v1 = sl.run_star_pipeline(
        spark, sroot, f"{root}/*/*/weather_raw_*2025-03-2[67]*.json",
        optimize_every=1)
    v2 = sl.run_star_pipeline(
        spark, sroot, f"{root}/*/*/weather_raw_*2025-03-2[89]*.json",
        optimize_every=1, audit=True)
    assert v2 > v1
    star = sl.create_weather_star(spark, sroot)
    assert star.applied_version == v2 == star.stg.version
    _assert_star_equals_batch(spark, star)
    # replay: nothing new, nothing folded, checks still green
    assert sl.run_star_pipeline(
        spark, sroot, f"{root}/*/*/weather_raw_*.json") == v2
    _assert_star_equals_batch(spark, star)
    # the audit leg has teeth: tear one fact table's log (a writer dead
    # inside the claim-then-write window) -> the audit names the table;
    # repair -> the next audited cycle is green again
    victim = next(iter(star.facts.values()))
    torn_v = victim.version + 1
    with open(f"{victim.log_dir}/{torn_v:020d}.json", "w"):
        pass
    try:
        sl.audit_star(star)
        raise AssertionError("audit accepted a torn fact log")
    except RuntimeError as exc:
        assert "torn_commits" in str(exc)
    victim.repair_torn_commit(torn_v)
    assert sl.run_star_pipeline(
        spark, sroot, f"{root}/*/*/weather_raw_*.json", audit=True) == v2


def _heavy_test_rollup_maintained_from_fact_cdc(spark, tmp_path):
    """IVM one level DEEPER (r12 directive #7): the city-daily rollup
    follows fact_weather_params_history's OWN change feed. After every
    fold — including the late 03-27 reissuance, which reaches the
    rollup as plain fact deletes (family flips / winner replacements) —
    the maintained state equals a full recompute over the current fact,
    i.e. exactly what the batch rollup would build. Replays are no-ops
    (txn floor), and a fold with no fact changes records only the
    floor."""
    root = ensure_fixtures()
    star = sl.create_weather_star(spark, str(tmp_path / "star"))
    fact = star.facts["fact_weather_params_history"]
    for pattern in ("*2025-03-26*", "*2025-03-2[89]*", "*2025-03-27*"):
        sl.ingest_bronze_increment(
            spark, star, f"{root}/*/*/weather_raw_{pattern}.json")
        sl.maintain_weather_star(spark, star)
        applied = sl.maintain_city_daily_rollup(spark, star)
        assert applied == fact.version
        assert _ms(star.agg_city_daily.read()) == \
            _ms(sl._rollup_state(fact.read()))
    # exercise the delete path explicitly: drop one reading from the
    # fact (a keyed DELETE — the same shape a winner replacement takes)
    # and the touched GROUP recomputes from its remaining rows while
    # every other group's state is untouched
    victim = fact.read().limit(1)
    before = _ms(star.agg_city_daily.read())
    fact.delete(victim.select(*sl.FACT_KEYS), sl.FACT_KEYS)
    sl.maintain_city_daily_rollup(spark, star)
    after = _ms(star.agg_city_daily.read())
    assert after == _ms(sl._rollup_state(fact.read()))
    assert after != before  # the victim's group genuinely changed
    # replay is a pure no-op: same floor, no new rollup version
    rv = star.agg_city_daily.version
    assert sl.maintain_city_daily_rollup(spark, star) == fact.version
    assert star.agg_city_daily.version == rv
    # a star fold that changes nothing advances only the rollup floor
    v0 = star.rollup_applied_version
    fact.optimize(target_rows=10)  # layout-only commits on the fact
    sl.maintain_city_daily_rollup(spark, star)
    assert star.rollup_applied_version >= v0
    assert _ms(star.agg_city_daily.read()) == \
        _ms(sl._rollup_state(fact.read()))


# ---------------------------------------------------------------------------
# Pooled heavy bodies (runtime-budget lever; see conftest.pool_bodies):
# independent bodies run concurrently under one module fixture, each
# keeping its own pytest row. Tests that mutate process-global state
# are deliberately NOT pooled.
# ---------------------------------------------------------------------------

def _heavy_test_partitioned_facts_fold_locality_and_daily_reload(
        spark, tmp_path):
    """Round-14: the fact tables are hive-partitioned by date_key.
    Pins the three claims that layout buys at 100 TB:

    1. every fact file lives under a ``date_key=`` partition;
    2. FOLD LOCALITY — a maintenance fold's rewrites (log-diffed
       live sets) and its probe reads (``inputFiles``) touch ONLY
       partitions inside the as-of window, never closed history;
    3. the replaceWhere daily-reload (``reload_fact_day``) reproduces
       the CDC-maintained state per partition, swapping one partition
       by reference while all others stay byte-identical."""
    root = ensure_fixtures()
    star = sl.create_weather_star(spark, str(tmp_path / "star"))
    sl.ingest_bronze_increment(
        spark, star, f"{root}/*/*/weather_raw_*2025-03-2[689]*.json")
    sl.maintain_weather_star(spark, star)
    fact = star.facts["fact_weather_params_history"]
    files_before = set(fact.live_files())
    assert files_before and all("date_key=" in p for p in files_before)
    lo, hi = sl._window_bounds(sl.AS_OF)
    win_days = set()
    d = lo
    while d < hi:
        win_days.add(int(d.strftime("%Y%m%d")))
        d += __import__("datetime").timedelta(days=1)

    def day_of(path: str) -> int:
        seg = next(s for s in path.split("/")
                   if s.startswith("date_key="))
        return int(seg.split("=")[1])

    # (2a) probe reads prune to the probed day's partition only
    one_day = sorted(day_of(p) for p in files_before)[0]
    probe = (fact.read(partition_values={"date_key": one_day})
             .select(*sl.FACT_KEYS).limit(50))
    got = fact.read_keys(
        probe.withColumn("date_key", F.lit(one_day)),
        sl.FACT_KEYS + ["date_key"])
    assert got.count() > 0
    assert {day_of(p) for p in got.inputFiles()} == {one_day}
    # (2b) the LATE 03-27 fold rewrites only in-window partitions
    sl.ingest_bronze_increment(
        spark, star, f"{root}/*/*/weather_raw_*2025-03-27*.json")
    sl.maintain_weather_star(spark, star)
    files_after = set(fact.live_files())
    touched = (files_before - files_after) | (files_after - files_before)
    assert touched, "the contested fold must rewrite something"
    assert {day_of(p) for p in touched} <= win_days, \
        "fold rewrites must stay inside the as-of window's partitions"
    # (3) daily reload ≡ maintained, per partition, others by reference
    maintained = _ms(fact.read())
    other_files = {p for p in fact.live_files() if day_of(p) != one_day}
    sl.reload_fact_day(spark, star, "fact_weather_params_history",
                       one_day)
    assert _ms(fact.read()) == maintained
    assert {p for p in fact.live_files()
            if day_of(p) != one_day} == other_files
    assert fact.fsck(verify_row_counts=True)["ok"]


_POOLED = {
    "test_partitioned_facts_fold_locality_and_daily_reload": _heavy_test_partitioned_facts_fold_locality_and_daily_reload,
    "test_rollup_maintained_from_fact_cdc": _heavy_test_rollup_maintained_from_fact_cdc,
    "test_cdc_maintained_star_equals_batch_rebuild": _heavy_test_cdc_maintained_star_equals_batch_rebuild,
    "test_star_fold_is_exactly_once_across_crash_and_bounded_catchup": _heavy_test_star_fold_is_exactly_once_across_crash_and_bounded_catchup,
    "test_run_star_pipeline_cycles_with_compaction": _heavy_test_run_star_pipeline_cycles_with_compaction,
    "test_star_fold_failed_write_waits_all_and_replays_exactly": _heavy_test_star_fold_failed_write_waits_all_and_replays_exactly,
    "test_star_fold_jobs_stay_in_callers_group": _heavy_test_star_fold_jobs_stay_in_callers_group,
}


@pytest.fixture(scope="module")
def star_pool(_heavy_pool):
    # touch all (submits on targeted runs), then join only
    # THIS module futures; the rest keep draining
    futs = {n: _heavy_pool["tests.test_star_lakehouse::" + n]
            for n in _POOLED}
    return {n: f.result() for n, f in futs.items()}


def test_partitioned_facts_fold_locality_and_daily_reload(star_pool):
    ex = star_pool["test_partitioned_facts_fold_locality_and_daily_reload"]
    if ex is not None:
        raise ex


def test_rollup_maintained_from_fact_cdc(star_pool):
    ex = star_pool["test_rollup_maintained_from_fact_cdc"]
    if ex is not None:
        raise ex


def test_cdc_maintained_star_equals_batch_rebuild(star_pool):
    ex = star_pool["test_cdc_maintained_star_equals_batch_rebuild"]
    if ex is not None:
        raise ex


def test_star_fold_is_exactly_once_across_crash_and_bounded_catchup(star_pool):
    ex = star_pool["test_star_fold_is_exactly_once_across_crash_and_bounded_catchup"]
    if ex is not None:
        raise ex


def test_run_star_pipeline_cycles_with_compaction(star_pool):
    ex = star_pool["test_run_star_pipeline_cycles_with_compaction"]
    if ex is not None:
        raise ex


def test_star_fold_failed_write_waits_all_and_replays_exactly(star_pool):
    ex = star_pool["test_star_fold_failed_write_waits_all_and_replays_exactly"]
    if ex is not None:
        raise ex


def test_star_fold_jobs_stay_in_callers_group(star_pool):
    ex = star_pool["test_star_fold_jobs_stay_in_callers_group"]
    if ex is not None:
        raise ex
