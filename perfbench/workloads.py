"""The benchmark's workloads: a closed loop with one client each.

``weather_lake``  the reference pipeline on a growing bronze lake:
                  streaming staging load, txlog ingest, CDC fold into the
                  weather star, rollup, dbt-style checks, one star read.
``dedup_ladder``  LLM-data curation of a documents table with the
                  ``operators.neardup`` ladder, then a held-out increment
                  folded into the clusters.

Each workload writes its generated inputs, then sets up cold: it starts
the session (which launches the Spark driver JVM), warms it up and
builds its declared one-time artifacts; all of that is ``setup_s``.
Then it repeats its timed operation until ``seconds`` have passed (at
least once), and checks its outputs outside the timed region.
``spark.catalog.clearCache()`` runs before every timed operation.
"""

from __future__ import annotations

import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from meteomatics_e2e_data_pipeline_spark import session, streaming
from meteomatics_e2e_data_pipeline_spark.operators import neardup, textops
from meteomatics_e2e_data_pipeline_spark.plans import (
    runner, star_lakehouse, weather)
from meteomatics_e2e_data_pipeline_spark.sources import bronze, tables

from perfbench import gen
from perfbench.trace import Tracer, patch_module_functions

PACKAGE = "meteomatics_e2e_data_pipeline_spark"
#: Full collections one retained-heap reading makes.
RETAINED_HEAP_GCS = 5

#: Input sizes. ``full`` is the sf0.1 documents size; ``small`` is the
#: quick mode the benchmark's own test runs.
SIZES = {
    "full": {"max_cycles": gen.MAX_CYCLES, "docs": 5000},
    "small": {"max_cycles": 1, "docs": 500},
}


@dataclass
class Run:
    """State shared by one benchmark run."""
    workload: str
    seed: int
    seconds: float
    work: Path
    size: dict
    tracer: Tracer
    spark: object = None
    session_start_s: float = 0.0
    setup_s: float = 0.0
    ops: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    rdds_left: list = field(default_factory=list)
    retained_mb: float = 0.0
    artifact_s: float = 0.0
    extra: dict = field(default_factory=dict)

    def op_seconds(self, kind: str) -> list:
        return self.ops.setdefault(kind, [])

    def set_up(self) -> None:
        """Start the session cold, JVM launch included, and warm it up
        with a first job."""
        t0 = time.perf_counter()
        self.spark = session.get_spark(f"perfbench-{self.workload}")
        self.session_start_s = time.perf_counter() - t0
        _warm_up(self.spark)
        self.setup_s = time.perf_counter() - t0
        self.tracer.bind(self.spark)

    def cold(self) -> None:
        self.spark.catalog.clearCache()

    def timed(self, kind: str, fn):
        """Run one timed operation cold; record its latency and, after it,
        the heap it left behind; count it as attempted, and as failed if
        it raises. Returns (ok, result)."""
        self.cold()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", root=True):
                result = fn()
        except Exception:  # one failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return False, None
        self.op_seconds(kind).append(time.perf_counter() - t0)
        if self.tracer.enabled:
            self.rdds_left.append(
                self.spark.sparkContext._jsc.getPersistentRDDs().size())
        self.retained_mb = max(self.retained_mb, self.retained_heap_mb())
        return True, result

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def deadline_passed(self, t_start: float) -> bool:
        return time.perf_counter() - t_start >= self.seconds

    def retained_heap_mb(self) -> float:
        """Driver JVM heap still in use after a full collection: what the
        program keeps (persisted blocks, broadcasts, plans) once an
        operation is done. Unlike the JVM's RSS it does not follow when
        G1 happens to grow the heap. Spark's ContextCleaner drops the
        blocks of collected broadcasts and shuffles on its own thread
        after a collection, so collect a few times, 0.2 s apart, and keep
        the lowest reading (after a weather_lake cycle: 99, 98, 82, 82,
        82 MB)."""
        jvm = self.spark._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for _ in range(RETAINED_HEAP_GCS):
            jvm.java.lang.System.gc()
            used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
            time.sleep(0.2)
        return min(used)

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM not found for the Spark driver JVM")


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None


def _warm_up(spark) -> None:
    spark.range(1 << 16).selectExpr("sum(id * 7 % 13)").collect()


def _p50(seconds: list) -> float:
    """Median for a report line; NaN when no operation of the kind
    completed."""
    return statistics.median(seconds) if seconds else float("nan")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# weather_lake
# --------------------------------------------------------------------------


def _star_tables(star) -> dict:
    return {"stg": star.stg, "winners": star.winners,
            "dim_location": star.dim_location,
            "dim_condition": star.dim_condition,
            "agg_city_daily": star.agg_city_daily, **star.facts}


def _city_daily(fact, dim_loc, dim_cond):
    """The J3 star join: history fact x dims -> per (city, parameter,
    day) reading count and value range."""
    return (fact.join(F.broadcast(dim_loc), "location_key")
            .join(F.broadcast(dim_cond), "condition_key")
            .groupBy("city", "parameter_name", "date_key")
            .agg(F.count(F.lit(1)).alias("n_readings"),
                 F.round(F.min("reading_value"), 2).alias("min_value"),
                 F.round(F.max("reading_value"), 2).alias("max_value")))


def _rollup_city_daily(star):
    roll = star.agg_city_daily.read()
    return (roll.join(F.broadcast(star.dim_location.read()
                                  .select("location_key", "city")),
                      "location_key")
            .join(F.broadcast(star.dim_condition.read()
                              .select("condition_key", "parameter_name")),
                  "condition_key")
            .select("city", "parameter_name", "date_key", "n_readings",
                    F.round("min_value", 2).alias("min_value"),
                    F.round("max_value", 2).alias("max_value")))


class _StreamStats:
    """Micro-batch count and input rows of every streaming query, from a
    ``StreamingQueryListener`` (registered in traced runs only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self
        self.batches = self.rows = self.terminated = 0

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if event.progress.numInputRows > 0:
                    stats.batches += 1
                    stats.rows += event.progress.numInputRows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                stats.terminated += 1

        spark.streams.addListener(Listener())

    def wait_terminated(self, n: int, timeout_s: float = 30.0) -> None:
        """Listener events arrive asynchronously; wait for the n-th
        query's termination so its progress events are all counted."""
        end = time.monotonic() + timeout_s
        while self.terminated < n and time.monotonic() < end:
            time.sleep(0.02)


def run_weather_lake(run: Run) -> dict:
    plan = gen.lake_plan(run.seed)
    run.set_up()
    # Declared one-time artifact: the star's empty txlog tables.
    spark, root = run.spark, run.work / "lake"
    t0 = time.perf_counter()
    star = star_lakehouse.create_weather_star(spark, str(root / "star"))
    run.artifact_s = time.perf_counter() - t0
    lake = root / "bronze"
    glob = f"{lake}/*/*/*.json"
    stg_path, ckpt = str(root / "stg_stream"), str(root / "stg_ckpt")
    listener = _StreamStats(spark) if run.tracer.enabled else None
    if run.tracer.enabled:
        patch_module_functions(run.tracer, PACKAGE, {
            bronze.read_bronze: "sources.read_bronze"})
    versions0 = {n: t.version for n, t in _star_tables(star).items()}
    files = in_bytes = 0

    def cycle():
        with run.tracer.span("streaming.ingest"):
            streaming.stream_bronze_to_staging(spark, glob, stg_path, ckpt)
        with run.tracer.span("star.ingest"):
            v = star_lakehouse.ingest_bronze_increment(spark, star, glob)
        with run.tracer.span("star.fold"):
            star_lakehouse.maintain_weather_star(spark, star, to_version=v)
        with run.tracer.span("star.rollup"):
            star_lakehouse.maintain_city_daily_rollup(spark, star)
        with run.tracer.span("star.check"):
            dim = star.dim_location.read()
            runner.check_unique(dim, ["location_key"])
            runner.check_not_null(dim, ["location_key", "country", "city"])
            runner.check_relationships(
                star.facts["fact_weather_params_history"].read(),
                "location_key", dim, "location_key")

    def serve():
        with run.tracer.span("plans.build"):
            df = _city_daily(star.facts["fact_weather_params_history"].read(),
                             star.dim_location.read(),
                             star.dim_condition.read())
        with run.tracer.span("exec.run"):
            _noop(df)

    t_start = time.perf_counter()
    for i, run_date in enumerate(plan.run_dates[:run.size["max_cycles"]]):
        if i and run.deadline_passed(t_start):
            break
        n, b = gen.land_run_date(plan, run_date, root / "landing", lake)
        files, in_bytes = files + n, in_bytes + b
        ok, _ = run.timed("cycle", cycle)
        if not ok:
            break
        if listener is not None:
            listener.wait_terminated(i + 1)
        staged = spark.read.parquet(stg_path).count()
        if staged != files * gen.READINGS_PER_FILE:
            print(f"staged rows {staged} != {files} files x "
                  f"{gen.READINGS_PER_FILE}", file=sys.stderr)
            run.failed += 1
        run.timed("serve", serve)

    cycles = run.op_seconds("cycle")
    if not cycles:
        return {}
    # Outside the timed region: the maintained star must answer exactly
    # what the batch weather pipeline computes over the same lake.
    stg = weather.stg_weather_raw(spark, glob)
    batch = sorted(_city_daily(weather.build_fact(stg, sun=False,
                                                  history=True),
                               weather.dim_location_from_stg(stg),
                               weather.dim_condition_from_stg(stg)).collect())
    fact = star.facts["fact_weather_params_history"].read()
    maintained = sorted(_city_daily(fact, star.dim_location.read(),
                                    star.dim_condition.read()).collect())
    rollup = sorted(_rollup_city_daily(star).collect())
    if not batch or maintained != batch or rollup != batch:
        print("maintained city-daily differs from the batch pipeline",
              file=sys.stderr)
        run.failed += len(cycles)

    timed_s = sum(cycles) + sum(run.op_seconds("serve"))
    run.extra.update({
        "bronze_bytes": in_bytes,
        "txlog_commits": sum(t.version - versions0[n]
                             for n, t in _star_tables(star).items()),
        "star_bytes": _du(root / "star"),
        "stream_batches": listener.batches if listener else 0,
        "stream_rows": listener.rows if listener else 0,
    })
    readings_per_s = files * gen.READINGS_PER_FILE / timed_s
    return {
        "op_p50_s": statistics.median(cycles),
        "report": {
            "lake_cycle_p50_s": (statistics.median(cycles), "s"),
            "lake_readings_per_s": (readings_per_s, "1/s"),
            "lake_serve_p50_s": (_p50(run.op_seconds("serve")), "s"),
        },
    }


def _du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# --------------------------------------------------------------------------
# dedup_ladder
# --------------------------------------------------------------------------


def _rung(run: Run, name: str, build, out: Path):
    """One rung of the ladder: build the frame (query construction),
    write it as a parquet table (execution), return the table."""
    with run.tracer.span(f"neardup.{name}"):
        with run.tracer.span("plans.build"):
            df = build()
        with run.tracer.span("exec.run"):
            df.write.mode("overwrite").parquet(str(out))
    return run.spark.read.parquet(str(out))


def _exact_dedup(docs):
    """Keep the lowest doc_id of every normalized-text content hash."""
    keep = (docs.withColumn("_h", textops.content_hash(F.col("text")))
            .groupBy("_h").agg(F.min("doc_id").alias("doc_id")))
    return docs.join(keep.select("doc_id"), "doc_id", "left_semi")


def _ladder(run: Run, base: Path, out: Path) -> dict:
    """The full-batch ladder over the documents table under ``base``."""
    docs = tables.load_table(run.spark, str(base), "documents")
    exact = _rung(run, "exact", lambda: _exact_dedup(docs), out / "exact")
    sigs = _rung(run, "signatures",
                 lambda: neardup.minhash_signatures(exact),
                 out / "signatures")
    cand = _rung(run, "candidates",
                 lambda: neardup.lsh_candidate_pairs(sigs),
                 out / "candidates")
    pairs = _rung(run, "verify", lambda: neardup.verify_jaccard(
        cand, neardup.shingle_hashes(exact, "doc_id", "text", 3)),
        out / "pairs")
    clusters = _rung(run, "components", lambda: neardup.dup_clusters(pairs),
                     out / "clusters")
    kept = _rung(run, "keep",
                 lambda: neardup.keep_canonical(exact, clusters),
                 out / "kept")
    _rung(run, "scrub",
          lambda: neardup.exact_substring_scrub_fixpoint(kept),
          out / "scrub")
    return {"corpus": exact, "cand": cand, "pairs": pairs,
            "clusters": clusters}


def _increment(run: Run, state: dict, batch_dir: Path, out: Path) -> dict:
    """Fold one held-out slice into the clusters: pairs touching the new
    documents, then the incremental cluster fold."""
    batch = tables.load_table(run.spark, str(batch_dir), "documents")
    new_pairs = _rung(run, "incremental",
                      lambda: neardup.near_dup_pairs_incremental(
                          state["corpus"], batch), out / "pairs")
    clusters = _rung(run, "incremental_components",
                     lambda: neardup.dup_clusters_incremental(
                         state["clusters"], new_pairs), out / "clusters")
    return {"corpus": state["corpus"].unionByName(batch),
            "clusters": clusters,
            "pairs": state["pairs"].unionByName(new_pairs)}


def run_dedup_ladder(run: Run) -> dict:
    corpus = gen.corpus(run.seed, run.size["docs"])
    data = run.work / "docs"
    gen.write_documents(corpus.base, data / "base")
    gen.write_documents(corpus.increment, data / "inc")
    run.set_up()
    if run.tracer.enabled:
        patch_module_functions(run.tracer, PACKAGE, {
            tables.load_table: "sources.load_table"})
    n_docs = len(corpus.base) + len(corpus.increment)

    t_start = time.perf_counter()
    rounds: list[float] = []
    n_cand = n_verified = 0
    while not rounds or not run.deadline_passed(t_start):
        out = run.work / f"round{len(rounds)}"
        t0 = time.perf_counter()
        ok, ladder = run.timed("ladder",
                               lambda: _ladder(run, data / "base", out))
        if not ok:
            break
        ok, state = run.timed("increment", lambda: _increment(
            run, ladder, data / "inc", out / "inc"))
        if not ok:
            break
        rounds.append(time.perf_counter() - t0)
        # Outside the timed region: the folded clusters must equal a
        # from-scratch clustering of every pair found.
        n_cand += ladder["cand"].count()
        n_verified += ladder["pairs"].count()
        scratch = neardup.dup_clusters(state["pairs"])
        if sorted(scratch.collect()) != sorted(state["clusters"].collect()):
            print("incremental clusters differ from a from-scratch "
                  "dup_clusters", file=sys.stderr)
            run.failed += 2
        shutil.rmtree(out)

    run.extra.update({"candidates": n_cand, "verified": n_verified})
    if not rounds:
        return {}
    return {
        "op_p50_s": statistics.median(rounds),
        "report": {
            "docs_per_s": (n_docs * len(rounds) / sum(rounds), "1/s"),
            "dedup_s": (statistics.median(run.op_seconds("ladder")), "s"),
            "dedup_incr_p50_s": (
                statistics.median(run.op_seconds("increment")), "s"),
        },
    }


WORKLOADS = {"weather_lake": run_weather_lake,
             "dedup_ladder": run_dedup_ladder}


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s",
                    "jvm_retained_heap_mb": "MB"}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_table_s": "s",
    "sources.read_bronze_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.executor_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "streaming.ingest_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_s": "1/s",
    "star.ingest_s": "s",
    "star.fold_s": "s",
    "star.rollup_s": "s",
    "star.check_s": "s",
    "star.jobs": "count",
    "txlog.commits": "count",
    "txlog.bytes_written_per_input_byte": "ratio",
    "neardup.exact_s": "s",
    "neardup.signatures_s": "s",
    "neardup.candidates_s": "s",
    "neardup.verify_s": "s",
    "neardup.components_s": "s",
    "neardup.components_jobs": "count",
    "neardup.keep_s": "s",
    "neardup.scrub_s": "s",
    "neardup.incremental_s": "s",
    "neardup.incremental_components_s": "s",
    "neardup.verified_per_candidate": "ratio",
    "cache.rdds_left": "count",
    "self.op_s": "s",
    "self.sources_s": "s",
    "self.plans_s": "s",
    "self.exec_s": "s",
    "self.streaming_s": "s",
    "self.star_s": "s",
    "self.neardup_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.op_p50_s": "s",
}


def layer_metrics(run: Run, e2e: dict) -> dict:
    t = run.tracer.totals
    build, exe = t("plans.build"), t("exec.run")
    ingest_s = t("streaming.ingest")["seconds"]
    timed_s = sum(sum(v) for v in run.ops.values())
    selfs = run.tracer.layer_self_seconds()
    x = run.extra
    m = {
        "session.start_s": run.session_start_s,
        "sources.load_table_s": t("sources.load_table")["seconds"],
        "sources.read_bronze_s": t("sources.read_bronze")["seconds"],
        "plans.build_s": build["seconds"],
        "plans.build_jobs": build["jobs"],
        "exec.run_s": exe["seconds"],
        "streaming.ingest_s": ingest_s,
        "streaming.batches": x.get("stream_batches", 0),
        "streaming.rows_per_s": (x.get("stream_rows", 0) / ingest_s
                                 if ingest_s else 0.0),
        "star.jobs": sum(t(f"star.{s}")["jobs"]
                         for s in ("ingest", "fold", "rollup", "check")),
        "txlog.commits": x.get("txlog_commits", 0),
        "txlog.bytes_written_per_input_byte": (
            x["star_bytes"] / x["bronze_bytes"]
            if x.get("bronze_bytes") else 0.0),
        "neardup.components_jobs": t("neardup.components",
                                     inclusive=True)["jobs"],
        "neardup.verified_per_candidate": (
            x["verified"] / x["candidates"] if x.get("candidates") else 0.0),
        "cache.rdds_left": (statistics.mean(run.rdds_left)
                            if run.rdds_left else 0.0),
        "trace.overhead_s": run.tracer.overhead_s,
        "trace.overhead_frac": (run.tracer.overhead_s / timed_s
                                if timed_s else 0.0),
        "trace.op_p50_s": e2e["op_p50_s"],
    }
    for c in ("jobs", "stages", "tasks", "cpu_s", "executor_run_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{c}"] = exe[c]
    for s in ("ingest", "fold", "rollup", "check"):
        m[f"star.{s}_s"] = t(f"star.{s}")["seconds"]
    for s in ("exact", "signatures", "candidates", "verify", "components",
              "keep", "scrub", "incremental", "incremental_components"):
        m[f"neardup.{s}_s"] = t(f"neardup.{s}")["seconds"]
    for layer in ("op", "sources", "plans", "exec", "streaming", "star",
                  "neardup"):
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    missing = set(PER_LAYER_UNITS) ^ set(m)
    if missing:
        raise RuntimeError(f"per-layer metric set mismatch: {missing}")
    return m


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 work: Path, small: bool) -> tuple[dict, dict]:
    """Run one workload. Returns (result line, report lines)."""
    run = Run(workload, seed, seconds, work,
              SIZES["small" if small else "full"],
              Tracer(None, trace, f"{workload}-{seed}"))
    try:
        e2e = WORKLOADS[workload](run)
        if not e2e:  # the first timed operation failed: report it
            run.failed = max(run.failed, 1)
            e2e = {"op_p50_s": 0.0, "report": {}}
        e2e["setup_s"] = run.setup_s + run.artifact_s
        e2e["jvm_retained_heap_mb"] = run.retained_mb
        report = e2e.pop("report")
        report["jvm_peak_rss_mb"] = (run.jvm_peak_rss_mb(), "MB")
        report["failed_frac"] = (run.failed / max(run.attempted, 1), "ratio")
        for name in END_TO_END_UNITS:
            report[name] = (e2e[name], END_TO_END_UNITS[name])
        if trace:
            values, units = layer_metrics(run, e2e), PER_LAYER_UNITS
            out = work.parent / "spans"
            out.mkdir(parents=True, exist_ok=True)
            run.tracer.write(out / f"{workload}-{seed}.jsonl")
        else:
            values, units = e2e, END_TO_END_UNITS
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units},
        }
        return result, report
    finally:
        if run.spark is not None:
            run.spark.stop()
