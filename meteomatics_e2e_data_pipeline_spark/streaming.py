"""Structured Streaming ingest (SURVEY §2.10).

The reference's orchestration — a Dataset-triggered transformation DAG
plus a "files not already in target" anti-join — is exactly what a file-
source stream with ``trigger(availableNow=True)`` gives natively:

- the checkpoint's file log IS the processed-files ledger (exactly-once
  at file grain; replaces ``stg_weather_raw.sql:21-25``'s NOT IN);
- ``availableNow`` processes everything currently in the lake, then
  stops — the batch-cadence behavior of the reference's daily run, with
  restart-safe bookkeeping for free.

The transformation is the *same* ``flatten_bronze`` plan as the batch
path; only the scan node differs.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import artifacts
from .plans.weather import flatten_bronze
from .sources.bronze import RAW_WEATHER_SCHEMA


def read_bronze_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of ``sources.bronze.read_bronze`` — same schema,
    same metadata columns, same path normalization."""
    df = (
        spark.readStream.schema(RAW_WEATHER_SCHEMA)
        .option("maxFilesPerTrigger", 64)  # bounded micro-batches at scale
        .json(path)
    )
    return df.select(
        F.regexp_replace(F.col("_metadata.file_path"), r"^.*/bronze/", "")
        .alias("file_path"),
        F.col("_metadata.file_modification_time").alias("file_modified"),
        "*",
    )


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming scan of the events table (parquet file source).

    The streaming file source requires a *directory*, so the scan targets
    the scale-factor dir with a glob filter for the events file(s). The
    driver's events parquet has stored ``ts`` as TIMESTAMP(NANOS) in some
    data generations and TIMESTAMP(MICROS) in others; the streaming reader
    probes the actual footer type via a one-off batch read (driver-side,
    metadata only) and applies the same dtype-branched nanos→micros
    conversion as the batch loader (`sources.tables.load_table`).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Probe via the same glob the stream uses so a split layout
    # (events_0.parquet, events_1.parquet, … — the multi-batch test
    # fixture) probes identically to the standard single file. The
    # probe (file listing + footer read) is kept in the artifact
    # registry while the matching files are unchanged.
    events_path = os.path.join(sf_dir, "events*.parquet")
    ts_type = artifacts.memo(
        spark, ("events_ts_type", events_path), sorted(glob.glob(events_path)),
        lambda: dict(spark.read.parquet(events_path).dtypes).get("ts", ""))
    schema = (f"event_id bigint, ts {ts_type or 'timestamp'}, user_id bigint, "
              "event_type string, value double, props string")
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events*.parquet")
    )
    if max_files_per_trigger is not None:
        # availableNow honours this as a batch-size cap, so a split
        # source dir yields a genuinely multi-batch run with the
        # watermark advancing between batches — the shape that
        # distinguishes a correct watermark column from one that only
        # works when everything lands in a single batch.
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(sf_dir)
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def stream_events_hourly(spark: SparkSession, sf_dir: str,
                         target_path: str, checkpoint_path: str,
                         watermark: str = "1 hour",
                         max_files_per_trigger: int | None = None) -> None:
    """Watermarked tumbling-window aggregation (the streaming twin of the
    batch ``events_hourly_rollup`` query): per (hour, event_type) counts
    and sums, append-mode — a window emits once the watermark passes its
    end, so late events within the watermark still land in the right
    bucket and state is bounded (windows older than the watermark are
    dropped from the store).

    CAVEAT (inherent to append mode + watermark): the trailing window(s)
    within ``watermark`` of the newest event stay in state and are NOT in
    the sink until a later pass moves the watermark past them. The output
    is therefore the *closed-window* rollup, not a complete snapshot —
    consumers needing the open tail should union the batch rollup over
    the uncommitted range.
    """
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour"), "event_type",
                "n_events", "sum_value")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", target_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def stream_user_sessions(spark: SparkSession, sf_dir: str,
                         checkpoint_path: str, query_name: str,
                         gap: str = "30 minutes",
                         watermark: str = "1 hour",
                         max_files_per_trigger: int | None = None) -> None:
    """Native session windows (``F.session_window``): per-user sessions
    close after ``gap`` of inactivity; a session emits once the watermark
    passes its end. This is the streaming twin of the batch
    ``sessionize_events`` query (lag + cumulative-sum formulation) — same
    session boundaries, incremental state instead of a global window.
    Memory sink under ``query_name`` (append mode: closed sessions only).
    """
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )
    q = (
        agg.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_user_event_totals(spark: SparkSession, sf_dir: str,
                             checkpoint_path: str, query_name: str,
                             max_files_per_trigger: int | None = None,
                             ) -> None:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running totals maintained in explicit state across
    micro-batches (the pattern for any bespoke stateful op Spark's
    built-in windows can't express). Emits one row per user per batch
    with the cumulative count/value so far; state is keyed by user and
    updated from Arrow batches. Results go to a memory sink under
    ``query_name`` (tests/demo; swap the sink for production).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value": [round(total, 2)]})

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger).select("user_id", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_user_event_totals_tws(spark: SparkSession, sf_dir: str,
                                 checkpoint_path: str, query_name: str,
                                 max_files_per_trigger: int | None = None,
                                 ) -> None:
    """Per-user running totals on the ``transformWithStateInPandas``
    API (Spark 4.x) — the successor to ``applyInPandasWithState`` used
    by the twin above, and the surface new stateful operators should
    target: state is declared as NAMED, typed variables on an
    object-oriented processor (ValueState here; ListState/MapState and
    event/processing-time timers are the same handle), which gives
    per-variable TTL and schema evolution instead of one opaque state
    tuple. Same emission contract as the sibling: one row per user per
    batch with the cumulative count/value; readers take the max-n row.
    pytest asserts both twins agree with the batch rollup across a
    multi-batch run.

    ENV GATE: the TWS state-server protocol needs the ``protobuf``
    package in the Python workers (its driver worker dies with
    ``ImportError: google.protobuf`` otherwise). This container lacks
    it (and pip installs are barred), so the pytest skips there — the
    ``applyInPandasWithState`` sibling above is the fully-exercised
    tier, exactly like the Delta/parquet upsert split."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd
            n, total = (self._totals.get() if self._totals.exists()
                        else (0, 0.0))
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "total_value": [round(total, 2)]})

        def close(self) -> None:
            pass

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger) \
        .select("user_id", "value")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, "
                         "total_value double",
        outputMode="Update",
        timeMode="None",
    )
    q = (
        out.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_bronze_upsert(spark: SparkSession, bronze_glob: str,
                         target_path: str, checkpoint_path: str,
                         keys: list[str] | None = None) -> None:
    """Streaming staging load with RECORD-grain dedupe: every micro-batch
    goes through ``upsert_by_key`` inside ``foreachBatch`` — the standard
    streaming-merge pattern. The checkpoint's file log deduplicates at
    file grain; the upsert's anti-join removes key collisions across
    differently-named redeliveries (same reading re-fetched into a new
    file), which a plain file sink would append twice."""
    from .operators.incremental import upsert_by_key

    ks = keys or ["file_path", "parameter", "reading_datetime"]

    def write_batch(batch_df, batch_id: int) -> None:
        upsert_by_key(batch_df, target_path, ks, batch_df.sparkSession)

    stg = flatten_bronze(read_bronze_stream(spark, bronze_glob))
    q = (
        stg.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_bronze_to_staging(spark: SparkSession, bronze_glob: str,
                             target_path: str, checkpoint_path: str) -> None:
    """Run one availableNow pass: new bronze files → staging parquet.

    Idempotent across invocations via the checkpoint: files already in
    the log are never reprocessed, so calling this daily reproduces the
    reference's incremental staging load (S7/S8 at file grain) without a
    metastore. Output is partitioned by reading date (S10) so downstream
    as_of-window fact builds prune partitions.
    """
    stg = flatten_bronze(read_bronze_stream(spark, bronze_glob))
    stg = stg.withColumn("reading_date", F.to_date("reading_datetime"))
    q = (
        stg.writeStream
        .format("parquet")
        .option("path", target_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("reading_date")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def stream_dedup_exact(docs_stream: DataFrame, ts_col: str,
                       watermark: str = "1 hour",
                       text_col: str = "text") -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch
    content-hash dedup (``operators/textops.content_hash``): keep the
    first arrival of each normalized-content hash, dropping re-deliveries
    that arrive within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``) is
    the scale-correct form: state holds one entry per DISTINCT hash seen
    inside the watermark window and is evicted as the watermark advances,
    so a forever-running ingest keeps bounded state. The trade-off is
    explicit and standard for streaming dedup: a duplicate arriving later
    than ``watermark`` after the original is no longer caught by state —
    that tail is the batch exact-dedup's job downstream (the two
    operators share the same hash, so their composition is exact).
    """
    from .operators.textops import content_hash

    return (
        docs_stream
        .withColumn("content_hash", content_hash(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def stream_ewma(spark: SparkSession, sf_dir: str,
                checkpoint_path: str, query_name: str,
                alpha: float = 0.3, window: int = 14,
                max_files_per_trigger: int | None = None) -> None:
    """Streaming twin of the batch ``events_ewma`` query
    (plans/timeseries.py): per-event-type EWMA of the daily count,
    maintained as EXPLICIT state across micro-batches via
    ``applyInPandasWithState`` — the recurrence ``a_k = α·n_k +
    (1−α)·a_{k−1}`` is sequential over day order, which no built-in
    streaming window can express.

    State per event type is the (day → count) map — bounded by the
    calendar, kilobytes per type for years of days — so a late batch
    that adds events to an already-seen day updates that day's count
    and every dependent smoothed value downstream of it is re-emitted
    (update output mode). Each emission recomputes the fold over the
    trailing ``window`` rows only, matching the batch query's bounded
    history exactly; a memory sink under ``query_name`` receives the
    updates. Every emission carries a per-group monotonically
    increasing ``seq`` (stored in state), because an update-mode memory
    sink does NOT guarantee that row order reflects emission order
    across micro-batches — readers must take the max-``seq`` row per
    (event_type, day), never the positionally last one.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd
        if state.exists:
            days, ns, seq = state.get
            counts = dict(zip(list(days), list(ns)))
        else:
            counts, seq = {}, 0
        for pdf in pdfs:
            per_day = pdf["day"].value_counts()
            for day, n in per_day.items():
                counts[day] = counts.get(day, 0) + int(n)
        seq += 1
        items = sorted(counts.items())
        state.update((
            [d for d, _ in items], [n for _, n in items], seq))
        out_days, out_n, out_ewma = [], [], []
        for i, (d, n) in enumerate(items):
            hist = [x for _, x in items[max(0, i - window + 1): i + 1]]
            acc = float(hist[0])
            for x in hist[1:]:
                acc = alpha * x + (1 - alpha) * acc
            out_days.append(d)
            out_n.append(n)
            out_ewma.append(round(acc, 6))
        yield pd.DataFrame({"event_type": key[0], "day": out_days,
                            "n": out_n, "ewma": out_ewma,
                            "seq": seq})

    ev = (read_events_stream(spark, sf_dir, max_files_per_trigger)
          .select("event_type",
                  F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")))
    out = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, day string, n bigint, "
                         "ewma double, seq bigint",
        stateStructType="days array<string>, ns array<bigint>, seq bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_quality_scores(stream: DataFrame, weights: list[float],
                          text_col: str = "text") -> DataFrame:
    """Serve the batch-trained quality classifier on a document stream
    — the train-offline / score-online shape every production quality
    gate runs. Stateless row-local projection (no watermark, no state,
    composes with any downstream streaming op): the weights are the
    bounded artifact ``operators/classifier.logreg_train`` produced in
    batch, and the feature + scoring expression tree is the SAME code
    the batch scorer uses (`text_feature_exprs` / `logreg_score`), so
    a document's streaming score is bit-identical to its batch score —
    zero training/serving skew by construction, which pytest asserts
    exactly."""
    from .operators.classifier import (
        FEATURE_COLS, logreg_score, text_feature_exprs,
    )
    from .operators.textops import LANG_STOPWORDS

    fx = text_feature_exprs(F.col(text_col), LANG_STOPWORDS["en"])
    feat = stream.select("*", *[fx[c].alias(c) for c in FEATURE_COLS])
    return (feat
            .withColumn("score",
                        logreg_score(feat, weights, list(FEATURE_COLS)))
            .drop(*FEATURE_COLS))


def stream_enrich(stream: DataFrame, dim: DataFrame,
                  on: list[str]) -> DataFrame:
    """Stream-to-static enrichment join — the streaming twin of the star
    join: each micro-batch hash-joins against the (small, broadcast)
    dimension; no streaming state is kept because the static side is
    fully known. This is how a geocode/location dim decorates an ingest
    stream without a stateful stream-stream join. Left join: an
    unenriched event must flow through (and be quarantined downstream),
    not silently vanish on a dim miss."""
    return stream.join(F.broadcast(dim), on=on, how="left")


def stream_stratified_sample(stream: DataFrame,
                             rates: dict[tuple[str, ...], float],
                             key_cols: tuple[str, ...] = ("lang", "source"),
                             id_col: str = "doc_id", salt: str = "mix0",
                             default_rate: float = 0.0) -> DataFrame:
    """Streaming twin of :func:`operators.sampling.stratified_sample` —
    possible precisely BECAUSE the batch operator's keep-decision is a
    pure row-local function of (id, salt): no state, no watermark, no
    window, so it composes with any downstream streaming op. A document
    admitted by the stream sample is the SAME document the batch sample
    admits (same salt), which is what makes mixed batch/streaming
    pipelines reconcilable. The rate map joins as a broadcast static
    dim, same as the batch side."""
    from .operators.sampling import SAMPLE_BUCKETS, sample_bucket

    spark = stream.sparkSession
    rate_rows = [(*key, int(round(rate * SAMPLE_BUCKETS)))
                 for key, rate in rates.items()]
    schema = ", ".join(f"{c} string" for c in key_cols) + ", __thr bigint"
    rdim = spark.createDataFrame(rate_rows, schema=schema)
    default_thr = int(round(default_rate * SAMPLE_BUCKETS))
    out_cols = stream.columns
    return (
        stream.join(F.broadcast(rdim), list(key_cols), "left")
        .withColumn("__thr", F.coalesce(F.col("__thr"), F.lit(default_thr)))
        .filter(sample_bucket(F.col(id_col), salt) < F.col("__thr"))
        .drop("__thr")
        .select(*out_cols)
    )


def stream_contamination_flags(stream: DataFrame, bench_hvs,
                               text_col: str = "text",
                               n: int = 3) -> DataFrame:
    """Streaming twin of :func:`operators.neardup.contamination_hits`:
    append ``n_hits`` (distinct benchmark n-grams present) to every
    streamed document. Stateless — no window, no watermark, no shuffle —
    so it composes with any downstream streaming op, and a doc's count
    is identical to the batch operator's (same hash definition).

    ``bench_hvs`` is the COLLECTED benchmark n-gram hash set (eval
    suites are MBs by nature, driver-collectable by contract — the
    same "ship the benchmark set to every worker" shape PaLM-style
    decontamination uses). It ships once per executor as a broadcast
    variable; membership runs in an Arrow-batched pandas UDF over the
    row-local shingle array (`shingle_hash_array_chained` — the
    closure-free streaming-safe form, value-identical to the batch
    build by property test — window-free by
    construction).
    """
    from pyspark.sql.functions import pandas_udf

    from .operators.neardup import shingle_hash_array_chained

    b = stream.sparkSession.sparkContext.broadcast(frozenset(bench_hvs))

    @pandas_udf("int")
    def n_hits(hv_arrays: pd.Series) -> pd.Series:
        s = b.value
        return hv_arrays.map(
            lambda arr: 0 if arr is None else len(set(arr) & s))

    return stream.withColumn(
        "n_hits", n_hits(shingle_hash_array_chained(F.col(text_col), n)))


def stream_near_dup_flags(stream: DataFrame, prior_band_keys,
                          n: int = 3, text_col: str = "text") -> DataFrame:
    """Streaming LSH near-dup flag against the PRIOR corpus index — the
    online half of the incremental-dedup story: every arriving document
    gets its MinHash signature computed ROW-LOCALLY (shingle-hash array
    → permuted mins, operators/neardup.minhash_sig_exprs — bit-equal to
    the batch groupBy signature, property-tested), its band keys built
    row-locally, and membership tested against the prior index. Output
    adds ``n_band_hits`` (bands colliding with the index) and
    ``near_dup`` — stateless: no watermark, no state, no shuffle, so it
    composes with the other streaming twins into one pipeline.

    ``prior_band_keys`` is the collected ``band_id|band_hash`` key set
    of the ALREADY-INGESTED corpus (built in batch by ``band_rows``;
    refreshed at the batch cadence like the trained-quantizer / Bloom
    artifacts). Broadcast once per executor. At warehouse scale where
    even the band-key set outgrows a broadcast, the same 8 KB Bloom
    summary used for decontamination applies (superset flags, exact
    confirmation downstream in batch); this exact form is the
    ≤10^8-key tier. A flagged doc is a CANDIDATE (same LSH semantics
    as batch) — verification joins stay in the batch layer."""
    from pyspark.sql.functions import pandas_udf

    from .operators.neardup import (
        NUM_PERM,
        band_key_array,
        minhash_sig_exprs,
        shingle_hash_array_chained,
    )

    b = stream.sparkSession.sparkContext.broadcast(
        frozenset(prior_band_keys))

    @pandas_udf("int")
    def n_hits(key_arrays: pd.Series) -> pd.Series:
        s = b.value
        return key_arrays.map(
            lambda arr: 0 if arr is None else len(set(arr) & s))

    sigs = stream.select(
        "*",
        *minhash_sig_exprs(shingle_hash_array_chained(F.col(text_col), n)))
    return (sigs.withColumn("__keys", band_key_array())
            .withColumn("n_band_hits", n_hits(F.col("__keys")))
            .drop("__keys", *[f"mh_{j}" for j in range(NUM_PERM)])
            .withColumn("near_dup", F.col("n_band_hits") > 0))


def stream_dup_coverage_gate(stream: DataFrame, bloom_words: list,
                             max_est_coverage: float,
                             span_len: int = 8,
                             text_col: str = "text") -> DataFrame:
    """Streaming admission by ESTIMATED exact-substring duplication
    against a batch-built reference dup-set Bloom — the online half of
    the round-10 ExactSubstr family: the batch side computes the
    corpus's count≥2 window-hash set and summarizes it as fixed-size
    Bloom words (:func:`operators.neardup.bloom_words_from_hv` over the
    count side of ``_dup_span_starts`` — the train-offline /
    gate-online split), and every ARRIVING document is scored
    row-locally as the fraction of its length-``span_len`` windows
    whose hash probes positive. Stateless — no window, no watermark,
    no shuffle — so it composes with the other gates
    (:func:`stream_training_gate`).

    The estimate's error has a known SIGN: Bloom false positives can
    only raise a document's hit fraction (≤ the FP rate ≈
    (1−e^(−kn/m))^k in expectation), never lower it — so the gate can
    spuriously REJECT a clean document with probability bounded by the
    FP tail, but can never ADMIT one whose true window-hit fraction
    exceeds the threshold. For training-data hygiene that is the safe
    direction; pytest pins the no-underestimate property per document
    and multi-batch/static decision equality
    (tests/test_streaming_ops.py).

    Output: the stream with ``est_dup_coverage`` (6-dp rounded window
    hit fraction; 0.0 for docs shorter than one window) appended,
    filtered to ``est_dup_coverage <= max_est_coverage``.
    """
    from .operators.neardup import bloom_probe, shingle_hash_array_chained

    words = F.lit(bloom_words)
    hv_arr = shingle_hash_array_chained(F.col(text_col), span_len)
    n_windows = F.size(hv_arr)
    n_hits = F.size(F.filter(hv_arr,
                             lambda hv: bloom_probe(words, hv)))
    est = F.when(n_windows > 0,
                 F.round(n_hits / n_windows, 6)).otherwise(F.lit(0.0))
    return (stream.withColumn("est_dup_coverage", est)
            .filter(F.col("est_dup_coverage")
                    <= F.lit(max_est_coverage)))


def stream_training_gate(stream: DataFrame, weights: list[float],
                         bench_hvs, prior_band_keys,
                         rates: dict, *, score_threshold: float = 0.5,
                         text_col: str = "text", contam_n: int = 3,
                         neardup_n: int = 3, id_col: str = "doc_id",
                         salt: str = "mix0",
                         default_rate: float = 0.0) -> DataFrame:
    """The WHOLE online admission gate as one composed streaming query —
    quality score → threshold, benchmark decontamination, near-dup
    flag vs the prior corpus index, deterministic stratified sample —
    in the cheapest-filter-first order the batch ``docs_training_mix``
    uses, so every later stage sees less data. Composability is the
    point: each stage is one of the stateless row-local twins above
    (no watermark, no state, no shuffle anywhere), so the composition
    is itself stateless and a document admitted by the stream is
    EXACTLY the document the same four batch operators admit —
    pytest runs the same input both ways and asserts the admitted
    (id, score) sets equal across micro-batches. The broadcast
    artifacts (weights, benchmark hash set, prior band keys, rate dim)
    are all batch-produced and bounded — the train-offline /
    gate-online split a production ingest runs."""
    scored = stream_quality_scores(stream, weights, text_col)
    gated = scored.filter(F.col("score") >= F.lit(score_threshold))
    decon = stream_contamination_flags(gated, bench_hvs, text_col,
                                       contam_n)
    clean = decon.filter(F.col("n_hits") == 0).drop("n_hits")
    flagged = stream_near_dup_flags(clean, prior_band_keys,
                                    n=neardup_n, text_col=text_col)
    fresh = (flagged.filter(~F.col("near_dup"))
             .drop("n_band_hits", "near_dup"))
    return stream_stratified_sample(fresh, rates, id_col=id_col,
                                    salt=salt, default_rate=default_rate)


def stream_heavy_hitters(spark: SparkSession, sf_dir: str,
                         checkpoint_path: str, query_name: str,
                         capacity: int = 32,
                         n_shards: int = 4,
                         max_files_per_trigger: int | None = None) -> None:
    """Streaming heavy hitters with BOUNDED state: Misra–Gries summaries
    maintained per user-id shard via ``applyInPandasWithState`` — the
    streaming twin of the batch ``events_heavy_hitters`` diagnostic,
    with the property the batch count lacks: state per shard is at most
    ``capacity`` counters FOREVER, no matter how many distinct users the
    stream sees (the batch groupBy's state is distinct-key-sized).

    Classic MG guarantees per shard: every key with true frequency
    > n/(capacity+1) is tracked, and a tracked count underestimates the
    truth by at most (n − Σcounters)/(capacity+1). Sharding by
    ``user_id % n_shards`` keeps the summary build parallel (MG
    summaries of disjoint key ranges concatenate trivially); readers
    merge shard rows and cut to their top-k. Update-mode memory sink
    with the per-shard monotone ``seq`` read protocol (see
    ``stream_ewma`` — sink row order across batches is not guaranteed).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        if state.exists:
            users, counts, n, dec, seq = state.get
            mg = dict(zip(list(users), list(counts)))
            n, dec = int(n), int(dec)
        else:
            mg, n, dec, seq = {}, 0, 0, 0
        for pdf in pdfs:
            for u, c in pdf["user_id"].value_counts().items():
                u, c = int(u), int(c)
                n += c
                if u in mg:
                    mg[u] += c
                elif len(mg) < capacity:
                    mg[u] = c
                else:
                    # decrement-all by the largest stride the new
                    # arrivals allow — batched MG (Berinde et al.):
                    # equivalent to c single-item decrement rounds
                    d = min(c, min(mg.values()))
                    mg = {k: v - d for k, v in mg.items() if v > d}
                    dec += d
                    rem = c - d
                    if rem:
                        if len(mg) < capacity:
                            mg[u] = rem
                        else:
                            dec += rem
        seq += 1
        items = sorted(mg.items())
        state.update((
            [u for u, _ in items], [c for _, c in items], n, dec, seq))
        yield pd.DataFrame({
            "shard": key[0],
            "user_id": [u for u, _ in items],
            "mg_count": [c for _, c in items],
            "n_shard": n,
            "decrements": dec,
            "seq": seq,
        })

    ev = (read_events_stream(spark, sf_dir, max_files_per_trigger)
          .select((F.col("user_id") % n_shards).alias("shard"), "user_id"))
    out = ev.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="shard bigint, user_id bigint, mg_count bigint, "
                         "n_shard bigint, decrements bigint, seq bigint",
        stateStructType="users array<bigint>, counts array<bigint>, "
                        "n bigint, dec bigint, seq bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_click_attribution(spark: SparkSession, sf_dir: str,
                             checkpoint_path: str, query_name: str,
                             attribution_window: str = "30 minutes",
                             watermark: str = "1 hour",
                             max_files_per_trigger: int | None = None,
                             ) -> None:
    """Stream–stream interval join (the attribution shape): every click
    joins the SAME user's views whose timestamp precedes it by at most
    ``attribution_window``. Both sides carry watermarks and the join
    condition bounds event-time distance, so Spark can size the join
    state to watermark + window and evict monotonically — unbounded
    stream-stream joins without a time bound are rejected by the engine
    for exactly the 100 TB reason. Inner joins emit every match
    regardless of watermark progress (the watermark only gates state
    EVICTION), so an availableNow pass over a static directory emits the
    complete pair set — asserted against the equivalent batch interval
    join in pytest. Both inputs branch off ONE streaming scan (a
    streaming self-join), not two separate sources.

    Memory sink under ``query_name``; append mode.
    """
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), "user_id",
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("click_user"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    joined = (
        views.join(
            clicks,
            (F.col("user_id") == F.col("click_user"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts")
               <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}")))
        .select("user_id", "view_id", "view_ts", "click_id", "click_ts")
    )
    q = (
        joined.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_view_attribution_outer(spark: SparkSession, sf_dir: str,
                                  checkpoint_path: str, query_name: str,
                                  attribution_window: str = "30 minutes",
                                  watermark: str = "1 hour",
                                  max_files_per_trigger: int | None = None,
                                  ) -> None:
    """Stream–stream LEFT OUTER interval join — the unmatched-view side
    the inner ``stream_click_attribution`` cannot express: every view
    emits, attributed views carry their click, and views with NO click
    inside the attribution window emit a null-click row. The null side
    is the stateful subtlety: a view's non-match is only KNOWABLE once
    the watermark passes ``view_ts + window`` (no future click can
    match), so null rows surface a trigger or two after their matched
    peers — which is exactly why outer stream-stream joins REQUIRE the
    watermark + time-bound condition Spark enforces (state stays sized
    to watermark + window and evicts monotonically; the eviction IS the
    null emission). Matched rows emit as they join, same as the inner
    twin. Both inputs branch off ONE streaming scan; memory sink,
    append mode. pytest drives a multi-batch availableNow run and
    asserts the closed-horizon slice equals the batch LEFT JOIN
    exactly — matched and null rows both."""
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), "user_id",
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("click_user"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    joined = (
        views.join(
            clicks,
            (F.col("user_id") == F.col("click_user"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts")
               <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}")),
            "leftOuter")
        .select("user_id", "view_id", "view_ts", "click_id", "click_ts")
    )
    q = (
        joined.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_sliding_reach(spark: SparkSession, sf_dir: str,
                         checkpoint_path: str, query_name: str,
                         watermark: str = "1 day") -> None:
    """Streaming twin of the batch ``events_sliding_reach_7d`` query:
    trailing-7-day distinct users via a NATIVE sliding window aggregate
    (``F.window(ts, '7 days', '1 day')`` — each event lands in exactly 7
    window states) with ``approx_count_distinct``, because exact
    streaming COUNT(DISTINCT) would need unbounded per-window identity
    state — the HLL sketch is the production answer, and pytest bounds
    it within 5% of the exact batch value per closed window. Sliding
    windows are epoch-aligned, so a window ENDING at midnight of day
    D+1 covers days [D−6, D] — the same trailing frame as the batch
    query's window_end = D. Append mode emits a window once the
    watermark passes its end.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("approx_users_7d"))
        .select(F.date_sub(F.col("w.end").cast("date"), 1).alias("day"),
                "approx_users_7d")
    )
    q = (
        agg.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_sliding_reach_exact(spark: SparkSession, sf_dir: str,
                               checkpoint_path: str, query_name: str,
                               watermark: str = "7 days",
                               max_files_per_trigger: int | None = None,
                               ) -> None:
    """EXACT streaming twin of ``events_sliding_reach_7d`` (the HLL
    variant above trades exactness for fixed state): each event fans
    out row-locally to the ≤7 trailing window-end days it covers —
    the same explode(sequence) trick as the batch plan — the
    (user, window_end) pairs DEDUPE on the event-time key
    (``dropDuplicates`` with the watermark column in the key, so state
    evicts as the watermark passes), and a 1-day tumbling count over
    the surviving pairs IS the exact distinct-user count per trailing
    window. Two chained stateful operators (dedupe → windowed agg),
    supported in append mode on Spark 3.5+/4.x; state is bounded by
    |distinct (user, day)| inside the watermark horizon — larger than
    the sketch's fixed state, exact in return, and still shuffle-keyed
    (never per-window identity lists on one task).

    Watermark subtlety: it is set on ``wend_ts``, which the fan-out
    shifts up to 6 DAYS AHEAD of the event's real timestamp — a delay
    that only covered arrival lateness would let the watermark run ~6
    days ahead of real event time, closing each 1-day window before
    most of its 7 contributing days had arrived and silently dropping
    their fanned rows as late. The default therefore covers the
    forward fan-out PLUS 1 day of real lateness (6+1 = ``7 days``);
    widen it if callers need more lateness, at proportionally larger
    dedupe state (the sibling ``stream_sliding_reach`` watermarks raw
    ``ts`` and has no such shift). pytest asserts closed windows equal
    the batch query EXACTLY across a multi-file, multi-batch run."""
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    fanned = (
        ev.select(
            "user_id",
            F.explode(F.expr(
                "sequence(to_date(ts), date_add(to_date(ts), 6))"))
            .alias("wend"))
        .select("user_id", F.to_timestamp("wend").alias("wend_ts"))
        .withWatermark("wend_ts", watermark)
        .dropDuplicates(["user_id", "wend_ts"])
    )
    agg = (
        fanned.groupBy(F.window("wend_ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("users_7d"))
        .select(F.col("w.start").cast("date").alias("day"), "users_7d")
    )
    q = (
        agg.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_daily_reach_hll(spark: SparkSession, sf_dir: str,
                           checkpoint_path: str, query_name: str,
                           watermark: str = "1 day",
                           max_files_per_trigger: int | None = None,
                           ) -> None:
    """Streaming twin of the batch HLL rollup (operators/sketches.py):
    per-day distinct users maintained as a MERGEABLE DataSketches HLL
    inside the streaming state store — ``hll_sketch_agg`` is a typed
    imperative aggregate, so each batch's partial sketch UNIONS into
    the stored one (register-wise max), exactly the property that lets
    daily→monthly rollups compose losslessly batch-side. Because the
    estimate depends only on the merged registers and register union is
    order-insensitive, a closed window's streaming estimate equals the
    single-pass batch estimate BIT-FOR-BIT across any batch split —
    pytest asserts exact equality on a multi-batch run, not a tolerance.
    Fixed state per window (2^lgk registers), append mode emits on
    watermark close."""
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
             .alias("approx_users"))
        .select(F.col("w.start").cast("date").alias("day"), "approx_users")
    )
    q = (
        agg.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_cms_cells(spark: SparkSession, sf_dir: str,
                     checkpoint_path: str, query_name: str,
                     max_files_per_trigger: int | None = None) -> None:
    """Streaming count-min maintenance: the d×w grid updated per
    micro-batch with a plain streaming groupBy — the rare stateful
    aggregate whose state is BOUNDED BY CONSTRUCTION (≤ depth·width
    cells forever, regardless of stream length or key cardinality),
    which is the whole point of sketch-backed streaming counters vs
    per-key state. Complete mode re-emits the full (bounded) grid each
    trigger, so readers take the sink as-is — with ≤ d·w cells the
    rewrite cost is a constant, which is why complete mode (normally a
    scale smell) is the right choice here. pytest asserts the
    availableNow grid equals the batch grid exactly (the cells are
    deterministic integers, unlike the HLL binaries).
    """
    from .operators.sketches import CMS_DEPTH, CMS_SALT, CMS_WIDTH
    from .operators.textops import base_hash48

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    exploded = ev.select(
        F.explode(F.array(*[F.lit(d) for d in range(CMS_DEPTH)]))
        .alias("depth"),
        F.col("user_id").cast("string").alias("__k"))
    idx = (base_hash48(F.concat_ws("|", F.col("__k"), F.lit(CMS_SALT),
                                   F.col("depth").cast("string")))
           % CMS_WIDTH).cast("int")
    grid = (exploded.withColumn("idx", idx)
            .groupBy("depth", "idx")
            .agg(F.count(F.lit(1)).alias("cell_n")))
    q = (
        grid.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_type_runs(spark: SparkSession, sf_dir: str,
                     checkpoint_path: str, query_name: str,
                     max_files_per_trigger: int | None = None) -> None:
    """Streaming twin of the batch ``events_type_runs`` gaps-and-islands
    collapse: per user, maintain the OPEN run (current type, start,
    last ts, count) as explicit state and emit a run the moment the
    type changes — the stateful-CDC shape behind live SCD2 maintenance.
    State per user is ONE tuple forever (the open run), the smallest
    possible stateful footprint; closed runs leave state immediately.

    Within one micro-batch the group's rows arrive as pandas frames in
    arbitrary order, so the update sorts its batch by (ts, event_id)
    before folding — correctness therefore requires in-order ARRIVAL
    across batches (late events older than the open run are a
    dead-letter in this twin; the batch query remains the replayable
    truth, which is exactly the lambda split the SCD2 docstring
    describes). pytest asserts the availableNow emission equals the
    batch query's CLOSED runs exactly.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        if state.exists:
            cur_type, start, last, n = state.get
        else:
            cur_type = None
            start = last = ""
            n = 0
        out = []
        for et, ts in zip(rows["event_type"], rows["ts_s"]):
            if cur_type is None:
                cur_type, start, last, n = et, ts, ts, 1
            elif et == cur_type:
                last, n = ts, n + 1
            else:
                out.append((cur_type, start, last, n))
                cur_type, start, last, n = et, ts, ts, 1
        state.update((cur_type, start, last, n))
        yield pd.DataFrame(
            {"user_id": key[0],
             "event_type": [o[0] for o in out],
             "run_start": [o[1] for o in out],
             "run_end": [o[2] for o in out],
             "run_length": [o[3] for o in out]})

    ev = (read_events_stream(spark, sf_dir, max_files_per_trigger)
          .select("user_id", "event_type", "ts", "event_id",
                  F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                  .alias("ts_s")))
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, event_type string, "
                         "run_start string, run_end string, "
                         "run_length bigint",
        stateStructType="cur_type string, start string, last string, "
                        "n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_cdc_near_dup_maintenance(
        spark, table_path: str, checkpoint_path: str, state_path: str,
        id_col: str = "doc_id", text_col: str = "text", n: int = 3,
        threshold: float = 0.5) -> dict:
    """Near-dup index maintenance, end to end and crash-safe:

        txlog documents table → ``txlog_cdc`` feed →
        :func:`operators.neardup.fold_cdc_near_dup` →
        one ATOMIC ``apply_delta(txn=...)`` of the state table,

    run by :func:`sources.txlog_stream.maintain_from_cdc`, the loop the
    ANN index uses too. The five state frames (corpus, pairs, clusters
    and the shingle/band corpus index) live in ONE frame-discriminated
    txlog table at ``state_path``, so each fold is a single atomic
    commit and the frames can never be observed mutually inconsistent.
    A replayed micro-batch publishes NOTHING (pytest-pinned with an
    injected crash, tests/test_txlog_stream.py), and re-runs resume at
    the first unseen version: N more commits then one more call folds
    exactly those.

    Bootstrap: a missing state table is built from the documents
    table's version-0 snapshot by
    :func:`operators.neardup.init_near_dup_table`. Per-batch work and
    write stay ∝ the increment; state history is itself
    time-travelable (every index version auditable) and compactable
    with the standard table maintenance. Returns the final unpacked
    state dict.
    """
    from .operators import neardup
    from .sources.txlog_stream import maintain_from_cdc

    st = maintain_from_cdc(
        spark, table_path, checkpoint_path, state_path,
        "neardup-maintenance",
        lambda docs: neardup.init_near_dup_table(
            spark, docs, state_path, id_col, text_col, n, threshold),
        lambda batch, st: neardup.fold_cdc_near_dup(
            batch, st, id_col, text_col, n, threshold))
    return neardup.unpack_near_dup_state(st.read())
