"""Ingest layer (S1–S5, U1–U2, C13–C16): fetch → validate → bronze sink.

Spark-first re-expression of the reference's extract path
(``meteomatics_get_data.py:63-133``, ``helper_validate_response.py:36-43``,
``helper_geocoders.py:5-13``):

- **Fetch is an injectable interface.** Tests (and this container, which
  has no network) use ``FixtureFetcher``; production plugs an HTTP
  implementation with the same signature. At 3 locations the driver loop
  is fine; at 10k locations ``fetch_distributed`` runs the same callable
  inside ``mapInPandas`` so fetches execute on executors (the reference
  README itself flags task-level fan-out as its scaling limit).
- **Validation is declarative**: ``from_json`` with the strict schema in
  PERMISSIVE mode + a corrupt-record channel reproduces the pydantic
  behavior (reject-on-mismatch) as a dataflow instead of an exception —
  bad payloads land in a quarantine DataFrame with the parse error
  attached, good ones continue. No Python in the row path.
- **Geocoding never runs per row** (U1): distinct location names → one
  lookup each → broadcast-join back.
- **Bronze sink** is one partitioned JSON writer (S4+S5):
  ``partitionBy(country, city)`` replaces the hand-built
  ``country/city/...`` S3 key of the reference.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import materialize, scope
from .bronze import RAW_WEATHER_SCHEMA
from .fixtures import LOCATIONS, _payload


# --------------------------------------------------------------------------
# C13/C14/C15 scalar parity helpers (reference meteomatics_get_data.py:28-70)
# --------------------------------------------------------------------------


def slug_location(location_name: str) -> tuple[str, str]:
    """'City, Country' → (city_slug, country_slug); raises on bad format
    (P10, reference ``:55-58``)."""
    parts = location_name.split(",")
    if len(parts) != 2:
        raise ValueError("Location must be in 'City, Country' format")
    city = parts[0].strip().lower().replace(" ", "_")
    country = parts[1].strip().lower().replace(" ", "_")
    return city, country


def time_window(run_date: str) -> tuple[str, str]:
    """run_date−1d / +7d at UTC midnight (C14, reference ``:28-36``)."""
    from datetime import datetime, timedelta
    dt = datetime.strptime(run_date, "%Y-%m-%d")
    fmt = "%Y-%m-%dT00:00:00Z"
    return (dt - timedelta(days=1)).strftime(fmt), \
        (dt + timedelta(days=7)).strftime(fmt)


def build_url(base_url: str, start: str, end: str, step: str,
              parameters: Iterable[str], lat: float, lon: float,
              output_format: str = "json") -> str:
    """C15 — the reference's URL shape (``meteomatics_get_data.py:65-70``)."""
    return (f"{base_url}/{start}--{end}:{step}/"
            f"{','.join(parameters)}/{lat},{lon}/{output_format}")


# --------------------------------------------------------------------------
# Fetchers (S1) — injectable; HTTP lives behind the same signature
# --------------------------------------------------------------------------


class FixtureFetcher:
    """Deterministic fetcher returning the same payloads as the fixture
    generator — the test double for the HTTP source."""

    def __call__(self, city: str, country: str, lat: float, lon: float,
                 run_date: str) -> dict:
        return _payload(city, country, lat, lon, run_date)


class HttpFetcher:
    """S1: real Meteomatics GET with basic auth. Requires network +
    credentials; import/use is deliberately lazy so the engine works
    without ``requests`` installed."""

    def __init__(self, base_url: str, username: str, password: str,
                 parameters: list[str], time_step: str = "PT1H"):
        self.base_url, self.auth = base_url, (username, password)
        self.parameters, self.time_step = parameters, time_step

    def __call__(self, city: str, country: str, lat: float, lon: float,
                 run_date: str) -> dict:
        import requests  # lazy: not needed for fixture runs

        start, end = time_window(run_date)
        url = build_url(self.base_url, start, end, self.time_step,
                        self.parameters, lat, lon)
        resp = requests.get(url, auth=self.auth)
        if resp.status_code != 200:  # P9
            raise ConnectionError(f"API error: {resp.status_code} - {resp.text}")
        return {"city": city, "country": country,
                "latitude": lat, "longitude": lon, "weather": resp.json()}

    @classmethod
    def from_connection(cls, source, name: str, parameters: list[str],
                        time_step: str = "PT1H") -> "HttpFetcher":
        """S3 wiring: build the fetcher from a NAMED connection
        (``sources.credentials.CredentialSource``) — the engine twin of
        the reference's ``BaseHook.get_connection("meteomatics_api")``
        (meteomatics_get_data.py:45-47). Callers carry a connection
        NAME; host and secrets resolve driver-side at wiring time."""
        conn = source.get_connection(name)
        return cls(conn.host, conn.login, conn.password, parameters,
                   time_step)


# --------------------------------------------------------------------------
# Geocoding (U1): distinct lookup + broadcast back, never per-row
# --------------------------------------------------------------------------


FIXTURE_GEOCODES = {
    f"{city.capitalize()}, {country.capitalize()}": (lat, lon)
    for city, country, lat, lon in LOCATIONS
}


class NominatimGeocoder:
    """U1 production geocoder speaking the public Nominatim REST contract
    (``GET {base}/search?q=<name>&format=json`` → ``[{"lat": "...",
    "lon": "..."}, ...]``; first hit wins). The reference resolves names
    through geopy's Nominatim wrapper (``helper_geocoders.py:5-13``);
    this speaks the same HTTP shape directly so the only client
    dependency is ``requests`` — and stays injectable, so tests point
    ``base_url`` at a local server and exercise a REAL socket. Compose
    with :func:`with_retries` for the reference's retry policy; pass the
    result to :func:`geocode_locations`, which still calls it once per
    DISTINCT name (never per data row)."""

    def __init__(self, base_url: str,
                 user_agent: str = "meteomatics-e2e-data-pipeline",
                 timeout_s: float = 5.0):
        # timeout matches the reference geocoder (helper_geocoders.py
        # timeout=5): a hung server must surface as requests.Timeout so
        # with_retries gets to retry instead of blocking ingest forever.
        self.base_url, self.user_agent = base_url.rstrip("/"), user_agent
        self.timeout_s = timeout_s

    def __call__(self, name: str) -> tuple[float, float]:
        import requests  # lazy: not needed for fixture runs

        resp = requests.get(f"{self.base_url}/search",
                            params={"q": name, "format": "json"},
                            headers={"User-Agent": self.user_agent},
                            timeout=self.timeout_s)
        if resp.status_code != 200:  # retried by with_retries, then fatal
            raise ConnectionError(
                f"geocode error: {resp.status_code} - {resp.text}")
        hits = resp.json()
        if not hits:  # NOT retried upstream of with_retries: a definitive
            # empty answer re-raises identically on every attempt
            raise LookupError(f"no geocode result for {name!r}")
        return float(hits[0]["lat"]), float(hits[0]["lon"])


def with_retries(geocode_fn: Callable[[str], tuple[float, float]],
                 retries: int = 3, backoff_s: float = 2.0,
                 sleep: Callable[[float], None] | None = None,
                 ) -> Callable[[str], tuple[float, float]]:
    """U1 retry policy (reference ``helper_geocoders.py:5-13``): retry a
    flaky lookup ``retries`` times with a fixed backoff, raising after
    exhaustion. ``sleep`` is injectable so tests don't wait."""
    import time as _time
    do_sleep = sleep or _time.sleep

    def wrapped(name: str) -> tuple[float, float]:
        last: Exception | None = None
        for attempt in range(retries):
            try:
                return geocode_fn(name)
            except Exception as exc:  # noqa: BLE001 - retried, then re-raised
                last = exc
                if attempt < retries - 1:
                    do_sleep(backoff_s)
        raise RuntimeError(
            f"Geocoding failed after {retries} attempts: {name}") from last

    return wrapped


def geocode_locations(spark: SparkSession, location_names: list[str],
                      geocode_fn: Callable[[str], tuple[float, float]] | None = None,
                      ) -> DataFrame:
    """Resolve each distinct location name once (driver-side — the lookup
    cardinality is distinct names, not rows) and return a small DataFrame
    to broadcast-join against the data. ``geocode_fn`` defaults to the
    fixture table; production passes a Nominatim-backed callable with its
    own retry policy (reference ``helper_geocoders.py:5-13``)."""
    fn = geocode_fn or (lambda name: FIXTURE_GEOCODES[name])
    rows = []
    for name in sorted(set(location_names)):
        city, country = slug_location(name)
        lat, lon = fn(name)
        rows.append((name, city, country, float(lat), float(lon)))
    return spark.createDataFrame(
        rows, "location_name string, city string, country string, "
              "latitude double, longitude double")


# --------------------------------------------------------------------------
# Validation (U2): pydantic-parity via from_json + corrupt channel
# --------------------------------------------------------------------------


def validate_payloads(spark: SparkSession, raw_json: DataFrame,
                      json_col: str = "raw") -> tuple[DataFrame, DataFrame]:
    """Split raw JSON strings into (valid, quarantine).

    Validity = parses under the strict schema AND carries the fields the
    pydantic model requires (city, country, weather.data non-null — the
    reference raises on exactly these, ``helper_validate_response.py:36-43``).
    Quarantined rows keep the original payload for replay/debugging.
    """
    parsed = raw_json.withColumn(
        "p", F.from_json(F.col(json_col), RAW_WEATHER_SCHEMA,
                         {"mode": "PERMISSIVE"}))
    ok = (F.col("p").isNotNull()
          & F.col("p.city").isNotNull()
          & F.col("p.country").isNotNull()
          & F.col("p.weather").isNotNull()
          & F.col("p.weather.data").isNotNull()
          & (F.size("p.weather.data") > 0))
    # both channels derive from the SAME parse — the from_json is the
    # dominant per-row cost, so it runs once, not once per branch
    valid = parsed.filter(ok).select("p.*")
    quarantine = (parsed.filter(~ok | F.col("p").isNull())
                  .select(F.col(json_col).alias("corrupt_record")))
    return valid, quarantine


# --------------------------------------------------------------------------
# Bronze sink (S4/S5) + the ingest pipeline (G1/G2)
# --------------------------------------------------------------------------


def write_bronze_files(payloads: list[dict], run_date: str,
                       bronze_root: str) -> list[str]:
    """File-per-(location, run) bronze layout, byte-compatible with the
    fixture lake (and the reference's S3 keys). Used by the driver-side
    ingest; the partitioned-writer variant below is the cluster path."""
    import pathlib
    written = []
    for p in payloads:
        d = pathlib.Path(bronze_root) / p["country"] / p["city"]
        d.mkdir(parents=True, exist_ok=True)
        path = d / f"weather_raw_{p['city']}_{p['country']}_{run_date}.json"
        with open(path, "w", encoding="utf-8") as f:
            json.dump(p, f)
        written.append(str(path))
    return written


def write_bronze_partitioned(df: DataFrame, path: str) -> None:
    """S5 as one declarative writer: hive-partitioned JSON sink."""
    df.write.mode("append").partitionBy("country", "city").json(path)


def fetch_distributed(locations: DataFrame, run_date: str,
                      fetcher: Callable[..., dict] | None = None,
                      parallelism: int | None = None) -> DataFrame:
    """G1 scale path: run the injectable fetcher on EXECUTORS via
    ``mapInPandas``, so 10k locations fan out across the cluster instead of
    looping on the driver (the reference README itself flags task-level
    fan-out as its scaling limit, ``README.md:77-82``).

    ``locations`` is the output of :func:`geocode_locations` (columns city,
    country, latitude, longitude). Returns one JSON string per location in a
    ``raw`` column — the same shape the driver-side loop feeds to
    :func:`validate_payloads`, so the quarantine channel is preserved: a
    fetch exception does not kill the task, it becomes a payload that fails
    validation (no ``weather`` field) and lands in quarantine with the error
    attached.

    ``parallelism`` optionally repartitions first — an IO-bound fetch wants
    one task per a-few-locations, and a locations frame built from a single
    file would otherwise fetch serially in one task.
    """
    fetch = fetcher or FixtureFetcher()
    if parallelism:
        locations = locations.repartition(parallelism)

    def _fetch_batches(batches):
        import pandas as pd
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    out.append(json.dumps(fetch(
                        row.city, row.country,
                        float(row.latitude), float(row.longitude), run_date)))
                except Exception as exc:  # noqa: BLE001 - becomes quarantine row
                    out.append(json.dumps({
                        "city": row.city, "country": row.country,
                        "fetch_error": str(exc)}))
            yield pd.DataFrame({"raw": out})

    return locations.mapInPandas(_fetch_batches, "raw string")


def ingest_distributed(spark: SparkSession, run_date: str, bronze_root: str,
                       location_names: list[str],
                       fetcher: Callable[..., dict] | None = None,
                       geocode_fn: Callable[[str], tuple[float, float]] | None = None,
                       quarantine_root: str | None = None,
                       parallelism: int | None = None) -> tuple[int, int]:
    """The extract DAG at cluster scale: geocode (distinct, driver — lookup
    cardinality is names, not rows) → executor-side fetch → validate →
    hive-partitioned bronze sink. Same contract as :func:`ingest` but no
    driver-side loop or collect of payloads."""
    geo = geocode_locations(spark, location_names, geocode_fn)
    # share BEFORE the fork into valid/quarantine: the frame feeds three
    # actions (quarantine count, quarantine write, bronze write) and an
    # uncached fetch would re-invoke the external fetcher per action —
    # 3× the API burn, and a transiently-flaky location could be counted
    # quarantined by one action yet written valid by another. NOTE:
    # caching REDUCES re-invocation, it does not guarantee exactly-once —
    # executor loss, cache eviction, or speculative/retried tasks
    # recompute the partition and re-hit the fetcher. For true
    # at-most-once fetch semantics, write the raw payloads to durable
    # storage first and fork valid/quarantine off that materialized copy
    # (the bronze layer itself plays that role when quarantine is off).
    with scope():
        raw = materialize(
            fetch_distributed(geo, run_date, fetcher, parallelism), "shared")
        valid, quarantine = validate_payloads(spark, raw)
        n_q = quarantine.count()
        if quarantine_root and n_q:
            quarantine.write.mode("append").json(
                f"{quarantine_root}/run_date={run_date}")
        valid = valid.withColumn("run_date", F.lit(run_date))
        write_bronze_partitioned(valid, bronze_root)
        # count THIS run's valid payloads (from the shared fetch) — a
        # re-read of the lake would also count earlier appends of the same
        # run_date and force a full-lake scan
        n_ok = valid.count()
    return n_ok, n_q


def ingest(spark: SparkSession, run_date: str, bronze_root: str,
           location_names: list[str] | None = None,
           fetcher: Callable[..., dict] | None = None,
           geocode_fn: Callable[[str], tuple[float, float]] | None = None,
           quarantine_root: str | None = None) -> tuple[int, int]:
    """The extract DAG as one function (reference
    ``extract_weather_from_meteomatics.py:28-53``): geocode (distinct) →
    fetch per location → validate (corrupt channel) → bronze files.
    Invalid payloads go to the dead-letter dir when ``quarantine_root``
    is given. Returns (n_valid, n_quarantined)."""
    names = location_names or [f"{c.capitalize()}, {co.capitalize()}"
                               for c, co, _, _ in LOCATIONS]
    fetch = fetcher or FixtureFetcher()
    geo = geocode_locations(spark, names, geocode_fn)
    payloads = [
        fetch(r["city"], r["country"], r["latitude"], r["longitude"], run_date)
        for r in geo.collect()
    ]
    raw = spark.createDataFrame([(json.dumps(p),) for p in payloads],
                                "raw string")
    valid, quarantine = validate_payloads(spark, raw)
    n_q = quarantine.count()
    if quarantine_root and n_q:
        quarantine.write.mode("append").json(
            f"{quarantine_root}/run_date={run_date}")
    # keep only payloads that passed validation (list is small: 1/location)
    valid_keys = {(r["city"], r["country"]) for r in
                  valid.select("city", "country").collect()}
    good = [p for p in payloads if (p["city"], p["country"]) in valid_keys]
    write_bronze_files(good, run_date, bronze_root)
    return len(good), n_q


def backfill_ingest(spark: SparkSession, run_dates: Sequence[str],
                    bronze_root: str, **kwargs) -> dict[str, tuple[int, int]]:
    """G4 backfill semantics (reference ``catchup=True`` + templated
    ``{{ ds }}``): one idempotent ingest per run_date, oldest first —
    downstream file-grain incrementality makes replays safe."""
    return {rd: ingest(spark, rd, bronze_root, **kwargs)
            for rd in sorted(run_dates)}


# --------------------------------------------------------------------------
# Stream → validate → MERGE: the whole extract→stage contract as one call
# --------------------------------------------------------------------------

# the staging grain of the reference's stg_weather_raw (dbt unique_key over
# the flattened readings; stg_weather_raw.sql:3-25)
READING_KEYS = ["city", "run_date", "parameter", "reading_datetime"]
STAGE_READING_SCHEMA = ("city string, run_date string, parameter string, "
                        "reading_datetime string, value string")


def flatten_api_readings(batch: DataFrame) -> DataFrame:
    """U2-style typed validation + P1/F1-F3 flatten of raw API payloads
    to the staging reading grain — the per-batch form of the parse that
    ``weather_api_source`` verifies against the DuckDB oracle (reference
    parse: ``stg_weather_raw.sql:12-25``). Rows whose payload is not
    ``status=OK`` (the quarantine channel's fetch_error payloads) or
    whose readings are null are dropped here; the quarantine sink keeps
    the originals."""
    p = F.from_json(F.col("raw"), RAW_WEATHER_SCHEMA)
    return (batch.select("city", "run_date", p.alias("p"))
            .filter(F.col("p.weather.status") == "OK")
            .select("city", "run_date",
                    F.explode("p.weather.data").alias("d"))
            .select("city", "run_date",
                    F.col("d.parameter").alias("parameter"),
                    F.explode("d.coordinates").alias("c"))
            .select("city", "run_date", "parameter",
                    F.explode("c.dates").alias("r"))
            .select("city", "run_date", "parameter",
                    F.col("r.date").alias("reading_datetime"),
                    F.col("r.value").alias("value"))
            .filter(F.col("reading_datetime").isNotNull()
                    & F.col("value").isNotNull()))


def stream_ingest_to_txlog(spark: SparkSession, table_path: str,
                           checkpoint_dir: str, start_date: str,
                           end_date: str,
                           options: dict | None = None,
                           after_batch: Callable[[int], None] | None = None):
    """The reference's entire extract→stage pipeline
    (``extract_weather_from_meteomatics.py:43-44`` fetch grain composed
    with ``stg_weather_raw.sql:3-25`` MERGE semantics) as ONE
    engine-native call: bounded ``weather_api`` backfill stream → typed
    payload validation (:func:`flatten_api_readings`) → atomic keyed
    ``TxTable.merge_upsert`` per micro-batch.

    Exactly-once at the TABLE level does not depend on the stream
    checkpoint alone: if the process dies between the table commit and
    the checkpoint commit, the engine replays the batch and the keyed
    MERGE stages nothing (100% duplicate keys) and publishes no commit —
    proven with an injected crash in tests/test_e2e_ingest.py. Restarts
    with an extended ``end_date`` stream only the new days (monotone
    source offsets). The table is created empty on first use with
    (city, run_date) file stats, so each merge touches only
    stat-overlapping files.

    ``after_batch`` runs after each batch's merge publishes (test
    hook / metrics seam). Returns the terminal streaming exception or
    ``None`` — callers decide whether a failed run is retryable; the
    table is consistent either way.
    """
    from pyspark.sql.types import StructType

    from ..operators.txlog import TxTable
    from .api_datasource import register

    register(spark)
    try:
        TxTable(spark, table_path)
    except ValueError:
        TxTable.create(
            spark,
            spark.createDataFrame([], StructType.fromDDL(
                STAGE_READING_SCHEMA)),
            table_path, stat_cols=["city", "run_date"])

    def sink(batch: DataFrame, batch_id: int) -> None:
        TxTable(spark, table_path).merge_upsert(
            flatten_api_readings(batch), READING_KEYS)
        if after_batch is not None:
            after_batch(batch_id)

    reader = (spark.readStream.format("weather_api")
              .option("start_date", start_date)
              .option("end_date", end_date))
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    q = (reader.load().writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(processingTime="0 seconds").start())
    try:
        q.processAllAvailable()
        exc = q.exception()
    except Exception as e:  # foreachBatch errors surface here
        exc = e
    finally:
        q.stop()
    return exc
