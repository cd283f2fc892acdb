#!/usr/bin/env python
"""Benchmark harness: run every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the `noop` sink (full execution, no
driver-side collect — the closest local analog of writing to a lake table).
A warm-up query runs first so JVM/codegen startup is not attributed to the
first benchmark entry, and each query reports its best of $BENCH_REPS
(default 2) runs so one-off JIT/page-cache noise doesn't read as a
regression.

Environment-state marker (round 11): this box is measurably two-state
(same-commit suite totals span 0.60-0.78 s/q depending on page-cache fill
and background load — PLANS.md round-10 variance table), so every run
RECORDS its state instead of leaving it to per-round forensics: a FIXED
calibration query (lineitem groupBy-sum through the noop sink — plan
frozen forever so the number is comparable across rounds) is timed twice
right after warm-up, and /proc/meminfo + /proc/loadavg are sampled at
start. The final JSON line carries ``calib_sec`` ([first, second] —
steady-state is the second; a second reading well above the historical
fast-state band means the whole run's numbers are inflated by the box,
not by plans), ``cached_gb`` and ``load1``.

Round 14 (verdict #1 — the r13 driver sample was load-contaminated
AFTER the start-of-suite calibration and the artifact could not prove
it): the frozen plan is ALSO re-timed every ~50 queries
(``calib_series``) and twice at suite close (``calib_end``, plus
``load1_end``/``cached_gb_end``), and ``value_per_calib`` divides by
min(start, close) steady calib — load arriving mid-run is now visible
in the artifact itself (a close pair or series step well above the
start pair), and can only deflate the normalized metric's denominator,
never inflate it invisibly.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def _env_state() -> dict:
    """Box-state snapshot recorded into every bench JSON: page-cache fill
    (the dominant axis of this box's two-state behavior) and 1-min load
    (competing work). Best-effort — absent /proc fields record as None."""
    out: dict = {"cached_gb": None, "avail_gb": None, "load1": None}
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Cached:"):
                    out["cached_gb"] = round(int(line.split()[1]) / 2**20, 2)
                elif line.startswith("MemAvailable:"):
                    out["avail_gb"] = round(int(line.split()[1]) / 2**20, 2)
    except OSError:
        pass
    try:
        with open("/proc/loadavg", encoding="ascii") as fh:
            out["load1"] = float(fh.read().split()[0])
    except (OSError, ValueError):
        pass
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from meteomatics_e2e_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm-up: touch every benchmarked input so scan/codegen startup and
    # first-touch page-cache IO are amortized for all query families, not
    # credited to whichever documents/embeddings query happens to run
    # first (that skew read as a phantom ANN regression in round 3).
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        run(spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")))
    # ... and spin up the Arrow Python workers once, so daemon startup
    # isn't attributed to whichever mapInPandas query runs first (read
    # as a phantom multimodal regression in round 4).
    run(spark.range(32).mapInPandas(lambda it: it, "id long"))
    # ... and codegen/JIT-compile the shingle→md5→conv expression chain
    # shared by the whole n-gram family: its first execution in a fresh
    # JVM pays a 2-6 s compilation hump (measured; PLANS.md round 6)
    # that otherwise lands on whichever n-gram query runs first in the
    # rotation (read as a phantom docs_hot_ngrams regression in r5).
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        hot_ngrams)
    docs_small = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")).limit(256)
    run(hot_ngrams(docs_small, 2, 5, n=3))
    # ... and build (or reopen) every artifact once, so its one-time
    # cost lands on warm-up, never on whichever gate query reads it
    # first: the eleven on-disk txlog builds (the weather star alone is a
    # ~35 s chain of commits; each is reused across processes while its
    # inputs are unchanged) and the brute-force ground truth the five
    # recall queries slice. The in-memory one is declared in the parsed
    # JSON as "warm_artifacts".
    from meteomatics_e2e_data_pipeline_spark.plans import (
        analytics, llmdata, star_lakehouse)
    warm = {"weather_star": lambda: star_lakehouse.maintained_star(spark)}
    for fn in (llmdata.q_emb_ann_ivf_indexed, analytics._converted_orders,
               analytics._partitioned_orders, analytics.q_orders_dv_pointget,
               analytics.q_orders_cloned_rollup,
               analytics.q_orders_renamed_rollup,
               analytics.q_orders_generated_pruned,
               analytics.q_orders_identity_audit,
               analytics.q_orders_repartitioned_rollup,
               analytics.q_orders_cdf_images, llmdata._bf_truth):
        warm[fn.__name__] = lambda fn=fn: fn(spark, sf_dir)
    failed = set()
    for name, build in warm.items():
        try:
            build()
        except Exception as exc:  # noqa: BLE001 - warm-up must never kill bench
            failed.add(name)
            print(f"bench: {name} warm-up failed: {exc}", file=sys.stderr)
    warm_artifacts = [] if "_bf_truth" in failed else ["bf_truth"]

    # Environment-state marker: sample the OS counters, then time the
    # frozen calibration plan twice (IO-heavy scan + one shuffle + sum —
    # touches the same resources the suite does). Never change this
    # query: its value lies in being comparable across every round.
    env = _env_state()
    from pyspark.sql import functions as F
    calib_df = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
                .groupBy("l_orderkey")
                .agg(F.sum("l_quantity").alias("q"),
                     F.sum("l_extendedprice").alias("p")))
    def time_calib() -> float:
        t0 = time.perf_counter()
        run(calib_df)
        return round(time.perf_counter() - t0, 3)

    calib = [time_calib() for _ in range(2)]

    reps = max(1, int(os.environ.get("BENCH_REPS", "2")))
    timings: dict[str, float] = {}
    # Mid-run drift series (round-13 verdict #1): the start-of-suite
    # calibration is blind to load that arrives AFTER it (BENCH_r13's
    # driver sample: fast calib pair, then a uniformly ~1.4x-inflated
    # suite — un-diagnosable from the artifact). Re-run the frozen plan
    # every ~50 queries and once more at close, so a mid-run slowdown is
    # VISIBLE in the artifact instead of needing forensics.
    calib_series: list[list] = []
    for q_idx, (name, fn) in enumerate(queries.items()):
        if q_idx and q_idx % 50 == 0:
            calib_series.append([q_idx, time_calib()])
        # ANN timings proved the noisiest in rounds 2-3 (broadcast +
        # small-ms kernels); one extra rep tightens best-of materially
        # for pennies of wall-clock.  docs_hot_ngrams joined the list in
        # round 6: its first rep pays 2-6 s of codegen/JIT for the
        # suite's heaviest expression chain (evidence in PLANS.md), so
        # best-of-2 straddles 1.1-1.8 s while steady state is ~1.1 s.
        # docs_jaccard_join joined late in round 6 for the same reason:
        # fresh-session rep0 measured 15.8 s vs 2.7 s steady (prefix
        # index build + JIT), so best-of-2 printed anywhere in 1.6-5.5.
        # ... and the round-9 n-gram family for the same JIT hump: the
        # dup-span/repetition expression chains measured rep0 ~2x their
        # steady state (PLANS.md round-9 sections).
        noisy = (name.startswith("emb_")
                 or name in ("docs_hot_ngrams", "docs_jaccard_join",
                             "docs_dup_span_coverage", "docs_top_dup_spans",
                             "docs_repetition_signals",
                             "docs_minhash_calibration",
                             # round-10 members of the same n-gram/JIT
                             # family (rep0 pays the gram-chain codegen)
                             "docs_exact_substring_scrub",
                             "docs_dup_coverage_gate",
                             "docs_scrub_effect",
                             # round-11: the iterated ladder runs FIRST
                             # in gate order, so rep0 pays the gram-
                             # chain JIT (isolated: rep0 17.6 s vs
                             # steady 5.7-6.6)
                             "docs_scrub_fixpoint",
                             # rep0 additionally pays the session
                             # pair/cluster artifact build (gate order
                             # puts it before the other consumers)
                             "docs_dedup_pipeline"))
        n_reps = reps + 1 if noisy else reps
        best = None
        for _ in range(n_reps):
            t0 = time.perf_counter()
            try:
                run(fn(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 - report, keep benching
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                best = -1.0
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 2)

    total = round(sum(t for t in timings.values() if t >= 0), 2)
    # Closing state (round-13 verdict #1): a second calib pair + OS
    # counters AFTER the suite. A close pair well above the start pair
    # is the signature of load arriving mid-run — the exact blind spot
    # that made BENCH_r13's driver sample unprovable.
    calib_end = [time_calib() for _ in range(2)]
    env_end = _env_state()
    # Calibration-normalized headline (round-12 directive #7): suite
    # seconds-per-query divided by the steady-state calibration second.
    # The box is two-state (PLANS.md round-10/11 variance tables);
    # dividing by what the SAME box state does to a FROZEN plan makes
    # round-over-round deltas read as plan changes instead of page-cache
    # forensics. Steady calib = min of the start/close second readings
    # (round-13 verdict #1): a box that was fast at EITHER end gives the
    # honest denominator, so load arriving after the start sample can no
    # longer inflate the metric invisibly.
    n_q = max(1, len(timings))
    steady = min((c for c in (calib[1:2] + calib_end[1:2]) if c > 0),
                 default=None)
    value_per_calib = (round((total / n_q) / steady, 3)
                       if steady else None)
    # The driver records only the LAST 2000 characters of stdout and tries
    # to json-parse what it captured.  With 140+ queries the full map no
    # longer fits, so print TWO lines (the round-5 verdict's suggested
    # split): first the COMPLETE map (fastest-first, for human readers of
    # raw stdout), then a final ≤1.9 KB line carrying the suite totals plus
    # as many of the SLOWEST queries as fit — the driver's tail capture
    # then contains one complete, parseable JSON object whose map covers
    # every query worth grading; the omitted entries are the fastest,
    # their count recorded in "n_fast_omitted".  Failed queries (-1.0)
    # always stay in the final line.
    ordered = dict(sorted(
        timings.items(),
        key=lambda kv: (kv[1] < 0, kv[1]),
    ))
    print(json.dumps({
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "calib_sec": calib,
        "calib_end": calib_end,
        "calib_series": calib_series,
        "value_per_calib": value_per_calib,
        **env,
        "load1_end": env_end["load1"],
        "cached_gb_end": env_end["cached_gb"],
        "queries": ordered,
    }))
    budget = 1900
    keep: dict[str, float] = {}
    # walk slowest-first (failures first of all), keep while it fits
    for name, t in sorted(timings.items(),
                          key=lambda kv: (kv[1] >= 0, -kv[1])):
        keep[name] = t
        # reserve ~420 bytes for the fixed fields incl. the start+close
        # env/calib markers, the mid-run calib_series (r14 verdict #1
        # residual: the drift evidence must live in the PARSED line,
        # not only in the full line the driver's tail capture
        # truncates) and the r16 warm_artifacts declaration
        if sum(len(k) + 12 for k in keep) > budget - 420:
            del keep[name]
            break
    # fastest-first inside the line so a further truncation still ends
    # with the slowest entries
    keep = dict(sorted(keep.items(), key=lambda kv: (kv[1] < 0, kv[1])))
    print(json.dumps({
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_fast_omitted": len(timings) - len(keep),
        "warm_artifacts": warm_artifacts,
        "calib_sec": calib,
        "calib_end": calib_end,
        "calib_series": calib_series,
        "value_per_calib": value_per_calib,
        **env,
        "load1_end": env_end["load1"],
        "queries": keep,
    }))


if __name__ == "__main__":
    main()
