"""Physical-plan regression guards: the scale properties PLANS.md
documents, asserted so a refactor can't silently lose them."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod


def _plan(spark, name: str, sf: str) -> str:
    df = entrymod.queries()[name](spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def all_plans(spark, sf_smoke) -> "dict[str, str]":
    """Every query's executed-plan string, built ONCE for the module —
    the three suite-wide hunters (cartesian, BNLJ, single-partition
    window) all read this instead of re-planning 200+ queries each
    (the r8 runtime ledger's named lever: one plan build, three
    assertions — worth ~100 s of suite time). Built on a thread pool:
    planning is driver-side latency (plus the eager-construction
    queries' small bootstrap jobs), so 8 threads overlap it — measured
    114 s serial → ~30 s (r11 runtime budget)."""
    from concurrent.futures import ThreadPoolExecutor

    names = list(entrymod.queries())
    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(zip(names, pool.map(
            lambda n: _plan(spark, n, sf_smoke), names)))


def test_pricing_summary_pushes_filter_and_prunes(spark, sf_smoke):
    plan = _plan(spark, "pricing_summary", sf_smoke)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: the untouched wide columns never reach the scan
    assert "l_comment" not in plan and "l_shipmode" not in plan


def test_discount_band_pushes_every_predicate(spark, sf_smoke):
    # Q6 shape: all four predicates must reach the parquet scan and the
    # plan must stay join- and window-free (pure scan → partial agg).
    # (formatted explain — the compact toString truncates the pushed
    # filter list for this many predicates)
    df = entrymod.queries()["discount_band_revenue"](spark, sf_smoke)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                 "GreaterThanOrEqual(l_discount",
                 "LessThanOrEqual(l_discount", "LessThan(l_quantity"):
        assert frag in plan, frag
    assert "Join" not in plan and "Window" not in plan


def test_latest_order_agg_is_window_free_partial_agg(spark, sf_smoke):
    # the aggregate top-1 strategy: a map-side partial max per group,
    # no Window operator anywhere (that's the point vs the rank form).
    plan = _plan(spark, "latest_order_agg", sf_smoke)
    assert "Window" not in plan
    assert "partial_max" in plan or "partial max" in plan.lower(), plan


def test_no_cartesian_products_anywhere(all_plans):
    for name, plan in all_plans.items():
        assert "CartesianProduct" not in plan, name


def test_bnlj_only_in_intended_queries(all_plans):
    # BroadcastNestedLoopJoin is deliberate ONLY in the brute-force /
    # quantizer-assignment similarity queries (see PLANS.md).
    allowed = {"emb_knn_bruteforce", "emb_knn_vectorized", "emb_ann_ivf",
               # nprobe=2 probe widening — same ivf_assign broadcast
               # scoring as emb_ann_ivf
               "emb_ann_ivf_multiprobe",
               # served from the persisted index: the stored assignment
               # replaces the corpus-side ivf_assign, but the QUERY side
               # still quantizes via the same deliberate centroid
               # broadcast scoring as emb_ann_ivf
               "emb_ann_ivf_indexed",
               # recall@k over the three PQ tiers — composes the tier
               # queries + knn_bruteforce truth, inheriting their
               # deliberate bounded BNLJs
               "emb_pq_recall",
               "emb_ann_ivf_trained", "emb_cosine_near_dup", "emb_knn_int8",
               # stage-1 of the two-stage funnel is the int8 pass above;
               # its stage-2 joins are broadcast HASH joins by design
               "emb_knn_int8_rerank",
               # binary funnel: stage-1 Hamming scan is the deliberate
               # bounded BNLJ (16-byte codes vs broadcast query codes);
               # stage-2 joins are broadcast HASH joins like int8_rerank
               "emb_knn_hamming_rerank",
               # composes the funnel + knn_bruteforce truth, inheriting
               # both deliberate bounded BNLJs (like emb_pq_recall)
               "emb_hamming_recall",
               # truncated-dim brute-force tiers + truth: the same
               # deliberate broadcast-queries BNLJs per tier
               "emb_matryoshka_recall",
               # label-mismatch broadcast scoring (same bounded
               # queries-side broadcast as knn_bruteforce)
               "emb_hard_negatives",
               "emb_pq_codes", "emb_knn_pq", "emb_ann_ivfpq",
               "emb_knn_pq_trained", "emb_knn_filtered",
               # these compose knn_bruteforce / bm25_search, so they
               # inherit those queries' deliberate bounded BNLJs
               "emb_ann_recall", "docs_hybrid_rrf", "emb_mmr_rerank",
               # per-TYPE sketch pair join (catalog-sized, never
               # data-sized) is a deliberate non-equi join
               "event_audience_overlap_approx",
               # threshold-calibration histogram reuses the cosine
               # near-dup pair join (ivf_assign broadcast scoring)
               "emb_similarity_histogram",
               # 1-row corpus-stats crossJoin (N, avgdl) — bounded by
               # construction, see PLANS.md round-5 notes
               "docs_bm25_search",
               # 1-row scalar-aggregate threshold join (Q11 topology) —
               # the broadcast side is a single row by construction
               "important_parts_by_revenue",
               # 1-row percentile-cuts crossJoin (quantile_cut) —
               # bounded by construction like bm25's stats row
               "customer_spend_quartiles_cut",
               # r15 lazy boundary estimate (quantiles._range_bucketed):
               # every global_ntile / global_row_number /
               # global_running_sum(s) consumer now carries a 1-row
               # percentile_approx cuts frame as a broadcast crossJoin
               # instead of a driver-blocking .first() — the broadcast
               # side is a single aggregate row BY CONSTRUCTION (an agg
               # with no grouping keys), never data-sized, so each BNLJ
               # is bounded exactly like quantile_cut's cuts row above.
               # Reconciles the round-7 note that parts_abc_classes had
               # left this list (its total rode the offsets broadcast):
               # the r15 rework re-adds the boundary-estimate row as an
               # in-plan broadcast, trading the BNLJ marker for one
               # fewer blocking job per quantile query (measured: RFM
               # 3.89→1.86 s in the r15 driver bench).
               "customer_spend_quartiles", "customer_rfm_segments",
               "parts_abc_classes", "supplier_revenue_ranks",
               "docs_classifier_auc", "docs_curriculum_order",
               "docs_shuffle_order", "docs_ks_drift",
               # 1-row best-metric crossJoin (max f1 / max J scalar
               # frame broadcast against the distinct-score sweep) —
               # bounded by construction like bm25's stats row
               "docs_classifier_threshold",
               # three 1-row aggregate frames crossJoined into the
               # before/after summary row — bounded by construction
               "docs_scrub_effect",
               # per-pass 1-row tokens × covered crossJoins (the same
               # bounded scalar-frame shape as docs_scrub_effect)
               "docs_scrub_fixpoint",
               # 1-row centroid-cosine frame crossJoined onto the
               # dims-bounded per-dimension table
               "emb_centroid_drift",
               # r16: the corpus token count N rides the plan as a
               # broadcast 1-row sum(cu) aggregate (no grouping keys —
               # one row BY CONSTRUCTION at any data size) instead of a
               # caller-side blocking count() over a third corpus scan;
               # same bounded scalar-frame shape as bm25's stats row.
               "docs_bigram_nll",
               # r16: same N-in-plan rework as docs_bigram_nll — the
               # unigram corpus total rides as a broadcast 1-row sum(c)
               # aggregate (one row BY CONSTRUCTION) instead of a
               # caller-side blocking count() over a second corpus scan
               "docs_unigram_nll",
               # r16: the two DSIR corpus totals (n_raw, n_tgt) ride as
               # ONE broadcast 1-row aggregate over the cached
               # (doc, lang, bucket) rollup (one row BY CONSTRUCTION)
               # instead of two construction-time blocking count() jobs
               "docs_dsir_weights"}
    for name, plan in all_plans.items():
        if "BroadcastNestedLoopJoin" in plan:
            assert name in allowed, f"unexpected BNLJ in {name}"


def test_region_revenue_broadcasts_only_fixed_dims(spark, sf_smoke):
    plan = _plan(spark, "region_revenue", sf_smoke)
    # the customer-grain dim must NOT be force-broadcast (scale-killer);
    # at smoke scale AQE may broadcast it at runtime, but the *logical*
    # hints are only on nation/region — assert no hint-driven broadcast
    # of the lineitem/orders fact side
    assert "CartesianProduct" not in plan


def test_cli_transform(spark, tmp_path, capsys):
    import json

    from meteomatics_e2e_data_pipeline_spark.__main__ import main
    rc = main(["transform", "--out", str(tmp_path / "wh"), "--no-checks"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["stg_weather_raw"] == 18744
    assert out["dim_date"] == 3653


def test_lsh_assign_is_zero_shuffle(spark, sf_smoke):
    """Round-3 rework: LSH bucketing is entirely row-local — any Exchange
    in its plan means the dims×planes fan-out regressed."""
    from meteomatics_e2e_data_pipeline_spark.operators.similarity import (
        lsh_assign,
    )
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    plan = lsh_assign(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_nation_profit_pushes_part_filter_and_broadcasts(spark, sf_smoke):
    # Q9 shape: the p_name pruning filter must reach the part scan
    # (StringContains pushdown) and every join must be a hash join —
    # the synthesized supply cost is row-local, never a join.
    df = entrymod.queries()["nation_profit_by_year"](spark, sf_smoke)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "StringContains(p_name,bolt)" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_revenue_suppliers_scalar_max_is_equi_join(spark, sf_smoke):
    # Q15 shape: the revenue-view + scalar-max decorrelation must stay
    # an EQUI join on the revenue value (broadcast 1-row max side) —
    # never a BNLJ and never a global window; the quarter filter
    # reaches the scan.
    df = entrymod.queries()["top_revenue_suppliers"](spark, sf_smoke)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_trailing_spend_window_is_customer_partitioned(spark, sf_smoke):
    # The RANGE-framed window must be PARTITIONED (per customer) —
    # a global-order form would funnel all orders through one task.
    plan = _plan(spark, "customer_trailing_spend", sf_smoke)
    assert "Window" in plan
    # the guard: no single-partition exchange feeding the window
    assert "SinglePartition" not in plan, plan


def test_no_data_sized_single_partition_windows(all_plans):
    """Suite-wide hunter: a Window fed by Exchange SinglePartition is
    the classic scale-killer (all rows sort on one task). The only
    sanctioned shapes are (a) the quantile family's offsets window —
    its input is the per-range totals aggregate, n_ranges config-sized
    rows, recognizable by the __tot column — and (b) queries whose
    windowed frame is bounded by CONSTRUCTION and documented as such
    (calendar-grain rollups). Any new name failing here either needs
    the operators/quantiles.py primitives or a boundedness argument."""
    allowed = {
        # day-grain rollup: the windowed frame is one row per calendar
        # day (bounded by the calendar, not the data; docstring
        # documents the shape)
        "events_rolling_corr",
        # the grand-total window runs over the per-LANGUAGE counts
        # frame — one row per language in the catalog, the same
        # config-sized contract as the offsets frame
        "docs_lang_temperature_sample",
    }
    offenders = []
    for name, plan in all_plans.items():
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Window" not in ln:
                continue
            feed = next((l for l in lines[i + 1:i + 4]
                         if "Exchange" in l), "")
            if "SinglePartition" not in feed:
                continue
            if "__tot" in ln:        # quantile offsets frame
                continue
            if name not in allowed:
                offenders.append((name, ln.strip()[:90]))
    assert not offenders, offenders


def test_incremental_near_dup_indexed_probe_is_equi_join_only(spark):
    """The maintained-index fold path (r11): with corpus_index supplied,
    near_dup_pairs_incremental's probe must be an EQUI-join on the band
    keys against the stored index — no CartesianProduct anywhere, and no
    re-shingling of corpus text (the index frames are checkpoint scans,
    so corpus text never appears in the plan)."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        init_near_dup_state,
        near_dup_pairs_incremental,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(6))) for i in range(6)],
        "doc_id long, text string")
    state = init_near_dup_state(docs)
    batch = spark.createDataFrame(
        [(100, " ".join(f"w0x{j}" for j in range(6)))],
        "doc_id long, text string")
    df = near_dup_pairs_incremental(
        None, batch,
        corpus_index={"shingles": state["shingles"],
                      "bands": state["bands"]})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "band_hash" in plan   # the probe keys reach a join, not a scan


# Job budgets: a construction or per-round job regression fails here
# instead of showing up only in a benchmark run. Each budget is the
# count measured when it was set (local[4] and local[16] sessions,
# shuffle partitions 8). dup_clusters ran 25 jobs every time. The fold
# window's count moves from run to run (100 or 101 in most runs, 103
# in a few), because the state table's range-clustered layout comes
# from sampled bounds and apply_delta's jobs follow its file count; its
# budget is the largest count seen.
DUP_CLUSTERS_JOB_BUDGET = 25
NEAR_DUP_FOLD_WINDOW_JOB_BUDGET = 103


def _jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dup_clusters_job_budget(spark):
    """``dup_clusters`` on a fixed 12-edge graph (pairs, a triangle, a
    star, 4-chains), built and collected under one job group."""
    import uuid

    from meteomatics_e2e_data_pipeline_spark.operators import neardup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 10), (10, 11), (9, 11),
         (20, 21), (20, 22), (20, 23), (30, 31), (31, 32), (32, 33)],
        "doc_a bigint, doc_b bigint")
    sc = spark.sparkContext
    group = f"dup-clusters-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "dup_clusters job budget")
    try:
        got = neardup.dup_clusters(pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(got) == 16
    n_jobs = _jobs_in_group(spark, group)
    assert 0 < n_jobs <= DUP_CLUSTERS_JOB_BUDGET, n_jobs


def test_near_dup_fold_window_job_budget(spark, tmp_path):
    """One near-dup CDC window (an append of two documents) through the
    one maintenance loop: every job of the micro-batch — the feed read,
    the fold and its ``apply_delta`` commit — runs under the streaming
    query's own job group, which the fold reads on entry."""
    from meteomatics_e2e_data_pipeline_spark.operators import neardup
    from meteomatics_e2e_data_pipeline_spark.operators.txlog import TxTable
    from meteomatics_e2e_data_pipeline_spark.sources.txlog_stream import (
        maintain_from_cdc,
    )

    def doc(pfx, tweak=None):
        toks = [f"{pfx}{i}" for i in range(10)]
        if tweak is not None:
            toks[tweak[0]] = tweak[1]
        return " ".join(toks)

    sch = "doc_id long, text string"
    t = TxTable.create(spark, spark.createDataFrame(
        [(1, doc("a")), (2, doc("a", (9, "zz"))), (3, doc("b")),
         (4, doc("b", (9, "yy"))), (5, doc("c"))], sch).coalesce(2),
        str(tmp_path / "docs"), stat_cols=["doc_id"])
    ck, sp = str(tmp_path / "ck"), str(tmp_path / "state")
    groups = []

    def fold(batch, st):
        groups.append(spark.sparkContext.getLocalProperty(
            "spark.jobGroup.id"))
        return neardup.fold_cdc_near_dup(batch, st)

    def run():
        return maintain_from_cdc(
            spark, t.path, ck, sp, "neardup-budget",
            lambda docs: neardup.init_near_dup_table(spark, docs, sp), fold)

    run()                                    # bootstrap; no window yet
    t.append(spark.createDataFrame(
        [(6, doc("a", (0, "qq"))), (7, doc("d"))], sch))
    st = run()
    assert len(groups) == 1 and groups[0], groups
    assert st.last_txn(f"neardup-budget:{os.path.basename(sp)}") is not None
    n_jobs = _jobs_in_group(spark, groups[0])
    assert 0 < n_jobs <= NEAR_DUP_FOLD_WINDOW_JOB_BUDGET, n_jobs
