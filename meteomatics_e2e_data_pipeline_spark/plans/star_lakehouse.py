"""CDC-maintained weather star schema — the lakehouse tier composed with
the reference surface (the loop the whole repo builds toward).

The reference's core semantic is INCREMENTAL stg → star maintenance:
``stg_weather_raw.sql:3-25`` is a dbt incremental model (Snowflake MERGE
on new files) and the marts hang off it through ``ref()``
(``dim_location.sql:9``, ``fact_weather_params_history.sql:6-45``). dbt
re-RUNS each mart query over all staging rows every cycle; here the star
is MAINTAINED: staging is a :class:`~..operators.txlog.TxTable`, and its
change feed (:meth:`TxTable.read_changes` — the same per-version feed
the ``txlog_cdc`` stream serves) folds into the four facts and refreshes
the dims with per-fold work ∝ the increment's touched keys, never table
size.

Fold design (exact, not approximate):

- The W1 semantic (latest ``date_generated`` wins per (city, parameter,
  reading_datetime), ``file_path`` tiebreaker — reference
  ``fact_weather_params_history.sql:20-31`` QUALIFY) is maintained in a
  WINNERS state table holding the current winning staging row per key,
  restricted to the P5 as-of window (keys outside it can never reach a
  fact, which also keeps state bounded by the window, not by history).
- Per change window: net the feed ONCE
  (:func:`~..operators.incremental.net_changes`, one signed-count
  aggregate, checkpointed; rows carried through copy-on-write rewrites
  cancel), probe current winners for the touched keys
  (:meth:`TxTable.read_keys`, stat-pruned), rank candidates with the
  SAME :func:`~..operators.dedupe.latest_record_wins` the batch path
  uses, and emit per-table change feeds applied via
  :meth:`TxTable.apply_changes` — ONE atomic, txn-guarded commit per
  table per fold. The two dim merges and the four fact applies are
  independent of each other, so they run concurrently (one thread
  each, inheriting the caller's job group).
- A delete that removes a key's CURRENT winner re-opens the key: the
  true new winner may be an older issuance the winner was shadowing, so
  those keys (only those) are recomputed from the staging snapshot AT
  the window's end version — cost ∝ the deleted keys' rows. Append-only
  ingest never takes this path.
- Fact family routing re-derives per fold: a LATE REISSUANCE that raises
  ``date_generated`` past ``reading_datetime`` flips a key from the
  forecast fact to the history fact (the P7 theta is a property of the
  WINNER, not the key), so each fold emits delete-from-old-family +
  insert-into-new-family feeds; unchanged keys net away to no commit.

Exactly-once across crashes WITHOUT cross-table atomicity: every fold is
a deterministic pure function of (winners state at the last applied
version, the change window), every fact apply carries
``txn=("weather_star", to_version)``, the dim merges are first-wins
idempotent, and the WINNERS table — whose txn floor drives the next
fold's window — commits LAST, only after all six concurrent dim and
fact writes have finished. A crash (or a failed write) before it may
leave ANY subset of those six committed, not just a prefix; the replay
re-derives byte-identical feeds, tables that already committed skip via
their txn guard (or merge nothing new), and the rest commit
(pytest-pinned with an injected crash and an injected failed fact
write).

Scale shape: all probes are stat-pruned file reads + keyed semi-joins;
the winner ranking windows over a frame ∝ touched keys; every write is
``apply_changes``' stat-pruned copy-on-write. Nothing in the fold scans
the staging table or a fact table end to end.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import date, datetime, timedelta
from functools import partial
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from ..artifacts import materialize
from ..operators.dedupe import latest_record_wins
from ..operators.incremental import net_changes, new_files_only
from ..operators.txlog import TxTable
from ..sources.bronze import read_bronze
from .weather import (
    AS_OF,
    SUN_PARAMS,
    dim_condition_from_stg,
    dim_location_from_stg,
    flatten_bronze,
)
from ..functions.dates import date_key
from ..functions.keys import surrogate_key

#: The W1 dedupe key and issuance ordering (reference QUALIFY clause).
STG_KEYS = ["city", "parameter", "reading_datetime"]
STG_ORDER = ["date_generated", "file_path"]
FACT_KEYS = ["location_key", "condition_key", "reading_datetime"]

_APP = "weather_star"
_ROLLUP_APP = "weather_star_rollup"

#: rollup grain (keys into the fact's own columns; dim attributes join
#: at serve time so the state table never embeds denormalized names)
ROLLUP_KEYS = ["location_key", "condition_key", "date_key"]
_ROLLUP_SCHEMA = ("location_key string, condition_key string, "
                  "date_key int, n_readings bigint, "
                  "min_value double, max_value double")

_STG_SCHEMA = ("file_path string, file_modified timestamp, "
               "country string, city string, date_generated timestamp, "
               "parameter string, latitude double, longitude double, "
               "reading_datetime timestamp, reading_value string")
_FACT_SCHEMA = ("location_key string, condition_key string, "
                "date_key int, reading_datetime timestamp, "
                "reading_value {vt}")
_DIM_LOC_SCHEMA = ("location_key string, country string, city string, "
                   "latitude double, longitude double")
_DIM_COND_SCHEMA = ("condition_key string, parameter_code string, "
                    "parameter_name string, unit string")

#: (sun, history) → mart name (reference models/marts/*.sql).
FACT_NAMES = {
    (False, True): "fact_weather_params_history",
    (False, False): "fact_weather_params_forecast",
    (True, True): "fact_sun_times_history",
    (True, False): "fact_sun_times_forecast",
}


@dataclass
class WeatherStar:
    """Handles to the maintained lakehouse star's txlog tables."""
    stg: TxTable
    winners: TxTable
    facts: dict[str, TxTable]
    dim_location: TxTable
    dim_condition: TxTable
    #: city-daily rollup MAINTAINED one IVM level deeper: it follows
    #: fact_weather_params_history's own change feed (the fact is a
    #: txlog table, so the same CDC machinery composes) — bronze → stg
    #: → fact → rollup, each hop ∝ its increment.
    agg_city_daily: TxTable

    @property
    def applied_version(self) -> int:
        """Staging version the star has been maintained up to."""
        return self.winners.last_txn(_APP) or 0

    @property
    def rollup_applied_version(self) -> int:
        """History-fact version the rollup has been maintained up to."""
        return self.agg_city_daily.last_txn(_ROLLUP_APP) or 0


def _empty(spark: SparkSession, ddl: str) -> DataFrame:
    return spark.createDataFrame([], StructType.fromDDL(ddl))


def create_weather_star(spark: SparkSession, root: str) -> WeatherStar:
    """Create (or reopen) the star's tables under ``root``. All tables
    carry key stats so every fold's probes and rewrites prune.

    The FACT tables are hive-partitioned by ``date_key`` (S10's
    cluster-by expressed as partitions, round-14): fact rows only ever
    change inside the as-of maintenance window (±2/+7 days —
    ``_window_bounds``), so day-grain partitions align the
    copy-on-write rewrite boundary with the change locality — a fold's
    probe scans and rewrites touch ONLY the window's partitions
    (log-diff-asserted in tests), and at 100 TB the years of closed
    history are never opened, listed, or rewritten by maintenance.
    ``reload_fact_day`` (replaceWhere) rides the same layout as the
    daily-reload alternative."""
    def table(name: str, ddl: str, stats: Sequence[str],
              parts: Sequence[str] = ()) -> TxTable:
        path = f"{root}/{name}"
        try:
            return TxTable(spark, path)
        except ValueError:
            return TxTable.create(spark, _empty(spark, ddl), path,
                                  stat_cols=list(stats),
                                  partition_cols=list(parts))

    facts = {
        name: table(name,
                    _FACT_SCHEMA.format(vt="string" if sun else "double"),
                    FACT_KEYS, parts=["date_key"])
        for (sun, _hist), name in FACT_NAMES.items()
    }
    return WeatherStar(
        stg=table("stg_weather_raw", _STG_SCHEMA, STG_KEYS),
        winners=table("stg_winners", _STG_SCHEMA, STG_KEYS),
        facts=facts,
        dim_location=table("dim_location", _DIM_LOC_SCHEMA,
                           ["location_key"]),
        dim_condition=table("dim_condition", _DIM_COND_SCHEMA,
                            ["condition_key"]),
        agg_city_daily=table("agg_city_daily", _ROLLUP_SCHEMA,
                             ROLLUP_KEYS),
    )


def ingest_bronze_increment(spark: SparkSession, star: WeatherStar,
                            bronze_glob: str) -> int:
    """One ingest cycle of the reference's extract→stage edge: scan the
    bronze lake (S6), keep only files the staging table has never seen
    (P4 — the dbt ``is_incremental()`` new-files filter), flatten ×3 and
    append atomically. Returns the staging version. Idempotent: a replay
    of an already-ingested glob stages zero files and commits nothing."""
    raw = read_bronze(spark, bronze_glob)
    fresh = new_files_only(raw, star.stg.read())
    rows = flatten_bronze(fresh)
    if rows.isEmpty():
        return star.stg.version
    return star.stg.append(rows)


def _window_bounds(as_of: date) -> tuple[datetime, datetime]:
    lo = datetime.combine(as_of - timedelta(days=2), datetime.min.time())
    hi = datetime.combine(as_of + timedelta(days=7), datetime.min.time())
    return lo, hi


def _fact_rows(winners: DataFrame, sun: bool, history: bool) -> DataFrame:
    """Project winner rows into one fact family — the SAME P6/P7/C11/C4
    expressions as the batch :func:`..plans.weather.build_fact`, so
    maintained ≡ rebuilt is an identity, not an approximation."""
    in_list = F.col("parameter").isin(*SUN_PARAMS)
    param_pred = in_list if sun else ~in_list
    theta = (F.col("reading_datetime") <= F.col("date_generated")
             if history
             else F.col("reading_datetime") > F.col("date_generated"))
    value = (F.col("reading_value") if sun
             else F.col("reading_value").cast("double"))
    return winners.filter(param_pred & theta).select(
        surrogate_key("country", "city").alias("location_key"),
        surrogate_key("parameter").alias("condition_key"),
        date_key(F.col("reading_datetime")).alias("date_key"),
        "reading_datetime",
        value.alias("reading_value"),
    )


def _feed(new: DataFrame, old: DataFrame) -> DataFrame:
    """new-state ⊕ old-state → a change feed: identical rows net away
    inside apply_changes, so unchanged keys cost no commit."""
    return (new.withColumn("_change_type", F.lit("insert"))
            .unionByName(old.withColumn("_change_type", F.lit("delete"))))


def _run_all(spark: SparkSession, writes: list) -> None:
    """Run independent table writes concurrently, one thread each. Every
    thread inherits the caller's Spark local properties (job group,
    scheduler pool), so the writes' jobs stay attributed to the caller.
    Returns once ALL writes have finished; the first failed write's
    error (in list order) is then re-raised."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(w))
                   for w in writes]
    for f in futures:
        f.result()


def _fold(spark: SparkSession, star: WeatherStar, from_v: int, to_v: int,
          as_of: date) -> None:
    """Fold the staging change window ``(from_v, to_v]`` into the star.
    Deterministic given (winners state, window) — see module docstring
    for the crash/replay argument."""
    cols = [f.name for f in star.stg.schema().fields]
    lo, hi = _window_bounds(as_of)
    in_win = F.col("reading_datetime").between(F.lit(lo), F.lit(hi))
    net = materialize(
        net_changes(star.stg.read_changes(from_v, to_v).filter(in_win), cols),
        "eager")
    n_tag = dict(net.groupBy("_change_type").count().collect())
    if not n_tag:
        # Advance the maintenance floor even for a no-data window
        # (layout-only commits, out-of-window readings) so the next
        # fold never re-reads it. A bare txn action is that floor.
        rv, _, _ = star.winners._snapshot()
        star.winners._commit(
            [{"txn": {"appId": _APP, "version": int(to_v)}}], rv)
        return

    is_ins = F.col("_change_type") == "insert"
    net_ins = net.filter(is_ins).select(*cols)
    net_del = net.filter(~is_ins).select(*cols)
    cur = materialize(
        star.winners.read_keys(net.select(*STG_KEYS), STG_KEYS), "eager")
    # Keys whose CURRENT winner row this window deleted: the new winner
    # may be a previously shadowed older issuance, visible only in the
    # staging snapshot — recompute exactly those keys from staging AT
    # to_v (deterministic under replay; cost ∝ those keys' rows).
    if "delete" not in n_tag:
        reopened = None
        pool = cur.unionByName(net_ins.select(*cur.columns))
    else:
        reopened = materialize(cur.join(net_del, on=cols, how="left_semi")
                               .select(*STG_KEYS).distinct(), "eager")
        from_snapshot = star.stg.read_keys(reopened, STG_KEYS,
                                           version=to_v).filter(in_win)
        kept = cur.join(reopened, on=STG_KEYS, how="left_anti")
        fresh = (net_ins.select(*cur.columns)
                 .join(reopened, on=STG_KEYS, how="left_anti"))
        pool = kept.unionByName(fresh).unionByName(
            from_snapshot.select(*cur.columns))
    new_w = materialize(latest_record_wins(pool, STG_KEYS, STG_ORDER),
                        "eager")

    # Dims and facts commit concurrently, winners LAST (its txn floor
    # gates the window — a crash before it replays this fold
    # deterministically, whichever of the six already committed). Dims
    # are grow-only DISTINCT projections (reference dims are
    # full-refresh DISTINCTs over all-time staging; an attribute row,
    # once seen, is content-determined, so first-wins MERGE is exact
    # for the append/reissue histories the reference produces).
    writes = [
        partial(star.dim_location.merge_upsert,
                dim_location_from_stg(net_ins), ["location_key"]),
        partial(star.dim_condition.merge_upsert,
                dim_condition_from_stg(net_ins), ["condition_key"]),
    ]
    for (sun, hist), name in FACT_NAMES.items():
        writes.append(partial(
            star.facts[name].apply_changes,
            _feed(_fact_rows(new_w, sun, hist), _fact_rows(cur, sun, hist)),
            FACT_KEYS, txn=(_APP, to_v)))
    _run_all(spark, writes)
    star.winners.apply_changes(_feed(new_w, cur), STG_KEYS,
                               txn=(_APP, to_v))
    if (star.winners.last_txn(_APP) or 0) < to_v:
        # The window touched keys but every winner survived unchanged
        # (e.g. only stale reissuances arrived): apply_changes nets to
        # nothing and publishes no commit, so record the floor with a
        # bare txn action — otherwise every later maintain() would
        # re-fold this window (idempotently, but forever).
        rv, _, _ = star.winners._snapshot()
        star.winners._commit(
            [{"txn": {"appId": _APP, "version": int(to_v)}}], rv)


def _rollup_state(fact_rows: DataFrame) -> DataFrame:
    """Group-state projection of history-fact rows — the same MIN/MAX/
    COUNT the batch ``q_weather_city_daily`` computes, kept at key grain
    (dim attributes join at serve time)."""
    return (fact_rows.groupBy(*ROLLUP_KEYS)
            .agg(F.count(F.lit(1)).cast("long").alias("n_readings"),
                 F.min("reading_value").alias("min_value"),
                 F.max("reading_value").alias("max_value")))


def maintain_city_daily_rollup(spark: SparkSession,
                               star: WeatherStar) -> int:
    """IVM composed one level DEEPER: the city-daily rollup follows the
    change feed of ``fact_weather_params_history`` — itself a
    CDC-maintained txlog table — so the whole chain bronze → stg → fact
    → rollup advances with per-hop work ∝ that hop's increment.

    MIN/MAX are not difference-maintainable under deletes (removing a
    group's minimum needs the runner-up), so the fold uses the standard
    IVM answer for non-distributive aggregates: recompute exactly the
    TOUCHED groups from the fact snapshot at the window's end —
    ``read_keys``-pruned, cost ∝ touched groups' rows, never fact size.
    A group whose rows all disappeared yields no recomputed row and
    nets to a delete. Exactly-once via the same txn-floor discipline as
    the star fold (``txn=(_ROLLUP_APP, fact_version)``; a no-change
    window records a bare txn floor). Late reissuances that flip a key
    OUT of the history fact (the P7 family flip) arrive here as plain
    fact deletes — the flip needs no special casing at this level.

    Returns the fact version the rollup is maintained up to."""
    fact = star.facts["fact_weather_params_history"]
    roll = star.agg_city_daily
    frm, to_v = star.rollup_applied_version, fact.version
    if frm >= to_v:
        return frm
    changes = fact.read_changes(frm, to_v)
    touched = materialize(changes.select(*ROLLUP_KEYS).distinct(), "eager")
    if touched.isEmpty():
        rv, _, _ = roll._snapshot()
        roll._commit([{"txn": {"appId": _ROLLUP_APP,
                               "version": int(to_v)}}], rv)
        return to_v
    group_rows = fact.read_keys(touched, ROLLUP_KEYS, version=to_v)
    new_state = _rollup_state(group_rows)
    old_state = roll.read_keys(touched, ROLLUP_KEYS)
    roll.apply_changes(_feed(new_state, old_state), ROLLUP_KEYS,
                       txn=(_ROLLUP_APP, to_v))
    if (roll.last_txn(_ROLLUP_APP) or 0) < to_v:
        # every touched group recomputed to its existing state (e.g. a
        # carried-through rewrite): record the floor so later calls
        # never re-fold this window
        rv, _, _ = roll._snapshot()
        roll._commit([{"txn": {"appId": _ROLLUP_APP,
                               "version": int(to_v)}}], rv)
    return to_v


def reload_fact_day(spark: SparkSession, star: WeatherStar,
                    fact_name: str, day_key: int) -> int:
    """The DAILY-RELOAD maintenance alternative (round-14): recompute
    ONE day of a fact family from the winners state and atomically
    swap exactly that partition in (``overwrite_partitions`` — the
    public Delta replaceWhere shape). Where the CDC fold advances by
    change increments, this advances by partition replacement: simpler
    to reason about (idempotent re-runs of a day are byte-stable
    swaps), same end state — pytest pins ``reload ≡ maintained`` on
    every partition. Cost ∝ one day's rows at any table size; every
    other partition is untouched BY REFERENCE."""
    sun, hist = next((s, h) for (s, h), n in FACT_NAMES.items()
                     if n == fact_name)
    day_rows = (_fact_rows(star.winners.read(), sun, hist)
                .filter(F.col("date_key") == F.lit(int(day_key))))
    return star.facts[fact_name].overwrite_partitions(
        day_rows, {"date_key": int(day_key)})


def maintain_weather_star(spark: SparkSession, star: WeatherStar,
                          to_version: int | None = None,
                          versions_per_fold: int = 0,
                          as_of: date = AS_OF) -> int:
    """Catch the star up to the staging table's ``to_version`` (default:
    its latest). ``versions_per_fold`` bounds each fold's window (the
    ``maxVersionsPerTrigger`` analog) so catching up a long history runs
    as bounded chunks. Exactly-once and crash-safe — see module
    docstring. Returns the applied staging version."""
    to_v = star.stg.version if to_version is None else to_version
    frm = star.applied_version
    while frm < to_v:
        nxt = (min(to_v, frm + versions_per_fold) if versions_per_fold
               else to_v)
        _fold(spark, star, frm, nxt, as_of)
        frm = nxt
    return frm


# --------------------------------------------------------------------------
# Oracle-backed query entries: read the MAINTAINED fact tables.
#
# The star is built once per machine (two out-of-order ingest increments
# + a maintenance fold each — the late-reissuance path included) and
# reused by later calls: the gate then hash-compares a fact table
# produced by the CDC fold chain against the same DuckDB SQL that checks
# the batch fact — maintained ≡ batch ≡ oracle, proven at value level
# every round.
# --------------------------------------------------------------------------

def maintained_star(spark: SparkSession) -> WeatherStar:
    """The fixture-bronze star, built via the incremental fold chain
    once per fixture fingerprint (:func:`artifacts.built_dir`)."""
    from .. import artifacts
    from ..sources.fixtures import ensure_fixtures

    root = ensure_fixtures()

    def build(out: str) -> None:
        star = create_weather_star(spark, out)
        # two increments, the second a LATE (stale-winning-and-losing)
        # run date — the same contested-window path the e2e pins
        for pattern in ("*2025-03-2[689]*", "*2025-03-27*"):
            sl_v = ingest_bronze_increment(
                spark, star, f"{root}/*/*/weather_raw_{pattern}.json")
            maintain_weather_star(spark, star, to_version=sl_v)
            # the deeper IVM hop folds after EACH star fold, so the
            # cached rollup has lived through the late-reissuance
            # family-flip window (fact deletes), not just appends
            maintain_city_daily_rollup(spark, star)

    # the name carries what the file fingerprint cannot see: the as-of
    # date and the star layout version (bump it when a table changes
    # shape, so cached stars rebuild)
    return create_weather_star(spark, artifacts.built_dir(
        f"weather_star_{AS_OF}_layout3", [root], build))


def _q_fact_maintained(sun: bool, history: bool):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        star = maintained_star(spark)
        return star.facts[FACT_NAMES[(sun, history)]].read()
    return q


def q_weather_city_daily_maintained(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The J3 star-join consumption query (`weather_city_daily`) served
    entirely from the MAINTAINED tables — fact × broadcast dims read
    from the CDC-folded star instead of being rebuilt from staging; the
    shared oracle proves the whole maintained star is consumable at
    value parity with the batch marts."""
    star = maintained_star(spark)
    fact = star.facts["fact_weather_params_history"].read()
    dim_loc = star.dim_location.read()
    dim_cond = star.dim_condition.read()
    return (
        fact.join(F.broadcast(dim_loc), "location_key")
        .join(F.broadcast(dim_cond), "condition_key")
        .groupBy("city", "parameter_name", "date_key")
        .agg(F.count(F.lit(1)).alias("n_readings"),
             F.round(F.min("reading_value"), 2).alias("min_value"),
             F.round(F.max("reading_value"), 2).alias("max_value"))
    )


def q_weather_city_daily_rollup_maintained(spark: SparkSession,
                                           sf_dir: str) -> DataFrame:
    """The rollup served from its OWN maintained state table — the IVM
    chain's deepest hop under the oracle gate: bronze → stg (CDC fold)
    → fact (apply_changes) → rollup (touched-group recompute), and the
    final table still answers the batch ``weather_city_daily`` oracle
    verbatim (dims broadcast-joined at serve time for the names)."""
    star = maintained_star(spark)
    roll = star.agg_city_daily.read()
    return (roll
            .join(F.broadcast(star.dim_location.read()
                              .select("location_key", "city")),
                  "location_key")
            .join(F.broadcast(star.dim_condition.read()
                              .select("condition_key", "parameter_name")),
                  "condition_key")
            .select("city", "parameter_name", "date_key", "n_readings",
                    F.round("min_value", 2).alias("min_value"),
                    F.round("max_value", 2).alias("max_value")))


STAR_QUERIES = {
    "fact_params_history_maintained": _q_fact_maintained(False, True),
    "fact_sun_forecast_maintained": _q_fact_maintained(True, False),
    "weather_city_daily_maintained": q_weather_city_daily_maintained,
    "weather_city_daily_rollup_maintained":
        q_weather_city_daily_rollup_maintained,
}


def star_oracle() -> dict[str, str]:
    """The maintained facts answer to the SAME SQL as the batch facts —
    that identity IS the maintenance proof."""
    from .weather import _oracle_fact, oracle_weather_city_daily
    return {
        "fact_params_history_maintained": _oracle_fact(sun=False,
                                                       history=True),
        "fact_sun_forecast_maintained": _oracle_fact(sun=True,
                                                     history=False),
        # the maintained star must be CONSUMABLE at parity: the J3
        # star-join answers the batch query's oracle verbatim
        "weather_city_daily_maintained": oracle_weather_city_daily(),
        # ...and so must the rollup maintained ONE LEVEL DEEPER (from
        # the fact's own change feed) — same oracle, zero recompute
        "weather_city_daily_rollup_maintained":
            oracle_weather_city_daily(),
    }


def audit_star(star: WeatherStar) -> dict[str, dict]:
    """``TxTable.fsck`` over every table of the star; raises with the
    per-table findings if any audit is unclean. Log-and-listing cost
    only (no data scan): at production scale schedule it like vacuum —
    periodically, not per cycle — which is why ``run_star_pipeline``
    gates it behind ``audit=``."""
    tables = {"stg": star.stg, "winners": star.winners,
              "dim_location": star.dim_location,
              "dim_condition": star.dim_condition,
              "agg_city_daily": star.agg_city_daily,
              **star.facts}
    reports = {name: t.fsck() for name, t in tables.items()}
    bad = {name: r for name, r in reports.items() if not r["ok"]}
    if bad:
        raise RuntimeError(f"star audit failed: {bad}")
    return reports


def run_star_pipeline(spark: SparkSession, root: str, bronze_glob: str,
                      optimize_every: int = 0,
                      as_of: date = AS_OF, audit: bool = False) -> int:
    """One maintenance CYCLE of the lakehouse star — the reference's
    Airflow Dataset edge (``extract_weather_from_meteomatics.py:49`` →
    ``meteomatics_transformation.py:25``) as a single idempotent call:

    1. ingest new bronze files (P4 new-files filter → flatten → append),
    2. fold the staging change feed into winners/facts/dims,
    3. every ``optimize_every`` applied versions, compact the
       fold-grain files (OPTIMIZE is layout-only — dataChange=false —
       so the maintenance floor and any change-feed consumer are
       untouched, pytest-pinned),
    4. run the dbt-equivalent schema tests the reference declares on
       the marts (``models/marts/schema.yml:7-11``: unique + not_null
       on dim_location.location_key),
    5. ``audit=True``: physically audit every star table
       (:func:`audit_star` → ``TxTable.fsck``) — torn commits, missing
       or unreferenced files — and raise on findings.

    Returns the applied staging version. Re-running on the same bronze
    set ingests nothing, folds nothing, and re-checks cleanly."""
    from .runner import check_not_null, check_unique

    star = create_weather_star(spark, root)
    ingest_bronze_increment(spark, star, bronze_glob)
    applied = maintain_weather_star(spark, star, as_of=as_of)
    maintain_city_daily_rollup(spark, star)
    if optimize_every and applied and applied % optimize_every == 0:
        for t in (star.winners, *star.facts.values()):
            t.optimize()
    dim = star.dim_location.read()
    check_unique(dim, ["location_key"])
    check_not_null(dim, ["location_key", "country", "city"])
    if audit:
        audit_star(star)
    return applied
