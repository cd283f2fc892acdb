"""Scale-safe global-order primitives: exact ntile and exact running
sums WITHOUT a single-partition window, plus broadcast percentile-cut
bucketing.

Problem: ``ntile(k) OVER (ORDER BY v)`` and ``sum(w) OVER (ORDER BY v
ROWS UNBOUNDED PRECEDING)`` funnel every row through ONE task — the
classic scale-killer, flagged on the quartile/Pareto query family. The
frames there are dimension-grain rollups, so they run today, but at
100× the single sort partition is the bottleneck.

Fix, same two-level shape as ``packing.pack_sequences`` but for VALUE
order instead of a hash-bucket order (where the range id was row-local
for free):

1. estimate ``n_ranges - 1`` boundary values with one
   ``approx_percentile`` pass. Accuracy is IRRELEVANT to correctness —
   any monotone bucketing yields the same final ranks; the estimate
   only balances the ranges (that is exactly Spark's own
   ``RangePartitioner`` sampling trick, re-expressed declaratively);
2. the range id is then a row-local comparison chain, ranges partition
   the global (value, tiebreak) order;
3. each range ranks / prefix-sums locally in parallel;
4. per-range totals — ``n_ranges`` config-sized rows — get a tiny
   window for exclusive offsets + the grand total, broadcast back;
5. global rank / cumsum = range offset + local value: row-local.

The input is shared (``artifacts.materialize``) so the
boundary-estimate branch and the main pass read ONE materialization
(the frames are dimension-grain rollups — bounded by contract; sharing
also means the fact is scanned once), and the materialization rides
the consumer's action — no construction-time blocking job.

Exactness: ranks are integers built from row_number — no floating
arithmetic — so ``global_ntile`` reproduces SQL ``ntile`` bit-for-bit
(equal-height buckets, first ``n % k`` buckets one row larger) and the
single-window oracle stays the semantic spec. For running SUMS the
caller should pass an exact (decimal / integer) weight column: decimal
addition is associative, so regrouping per-range cannot drift the way
reassociated double addition can (see the engine-wide midpoint-parity
policy in plans/analytics.py).

Ties: the range id is a function of the VALUE alone, so rows tying on
the value never straddle a boundary and the (value, tiebreak) order is
respected. A pathologically constant column degrades to one range —
the same behavior as any range partitioner; callers order by
near-unique measures (spend, revenue, recency).

``quantile_cut`` is the even cheaper cousin for when equal-height
semantics are not required: three EXACT interpolated percentile cut
points via one aggregate + a broadcast comparison — zero windows, zero
extra shuffles. Spark ``percentile`` and DuckDB ``quantile_cont`` both
interpolate at ``p * (n - 1)`` over the sorted exact values, so the
cut points (and therefore the buckets) are oracle-expressible.

Reference parity note: the reference pipeline has no quantile surface
(its marts are plain GROUP BYs — reference ``models/marts``); this
module serves the engine's analytics extension with the documented
100 TB contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..artifacts import materialize

__all__ = ["estimate_range_cuts", "global_ntile", "global_row_number",
           "global_running_sum", "global_running_sums", "quantile_cut"]

# Accuracy of the boundary-estimate pass. Boundary accuracy affects
# ONLY how evenly rows spread across ranges — never any result (any
# monotone bucketing reconstructs identical global ranks) — and the
# GK-sketch merge cost grows superlinearly with it (measured round 8:
# 63 probs over 1.5M rows cost 2.3 s at 10_000 vs 0.46 s at 1_000).
# At 1_000 each boundary's rank error is <= n/1000, so with the
# default 64 ranges the worst range runs ~6% heavier than even - noise
# against task skew. The constant is the knob if a caller ever needs
# tighter balance.
BOUNDARY_ACCURACY = 1_000


def estimate_range_cuts(df: DataFrame, value_cols: list[str],
                        n_ranges: int = 64) -> dict[str, list]:
    """ONE ``approx_percentile`` pass estimating range boundaries for
    several value columns at once — callers running multiple quantile
    passes over the same frame (e.g. the three RFM axes) precompute
    this and hand each list to the per-axis call via ``cuts=``,
    replacing N boundary actions with one."""
    row = df.agg(*[
        F.percentile_approx(c, [i / n_ranges for i in range(1, n_ranges)],
                            BOUNDARY_ACCURACY).alias(c)
        for c in value_cols]).first()
    return {c: [v for v in (row[c] or []) if v is not None]
            for c in value_cols}


def _range_bucketed(df: DataFrame, value_col: str, descending: bool,
                    n_ranges: int, checkpoint: bool = True,
                    cuts: list | None = None) -> DataFrame:
    """Checkpoint ``df`` and add ``__rng``: a row-local range id that is
    monotone in the requested value order (approx boundaries, exact
    order). Pass ``checkpoint=False`` when the caller already
    materialized the frame (e.g. one rollup feeding several quantile
    passes) — the boundary-estimate action then reads the caller's
    checkpoint instead of making another copy — and ``cuts`` to reuse
    boundaries from :func:`estimate_range_cuts`."""
    if n_ranges < 2:
        raise ValueError(f"n_ranges must be >= 2, got {n_ranges}")
    # shared: all three consumers of the snapshot (boundary-estimate
    # branch, local ranking, offsets aggregate) live inside the
    # consumer's one action (the frames are dimension-grain rollups —
    # bounded).
    snap = materialize(df, "shared") if checkpoint else df
    if cuts is None:
        # Lazy boundary estimate (r15): the cut array rides the plan as
        # a broadcast 1-row cross join instead of a driver-synchronous
        # ``.first()`` — one fewer blocking job per quantile query
        # (both the estimate and the main pass still read the ONE
        # checkpoint). Duplicate cuts are not collapsed here; they only
        # create empty ranges, and any monotone bucketing reconstructs
        # identical ranks (module contract above).
        probs = [i / n_ranges for i in range(1, n_ranges)]
        cuts_row = snap.agg(
            F.percentile_approx(value_col, probs,
                                BOUNDARY_ACCURACY).alias("__cuts"))
        past = ((lambda c: F.col(value_col) < c) if descending
                else (lambda c: F.col(value_col) > c))
        return (snap.join(F.broadcast(cuts_row))
                .withColumn("__rng",
                            F.size(F.filter(F.col("__cuts"), past)))
                .drop("__cuts"))
    cuts = sorted(set(cuts), reverse=descending)
    rng: Column = F.lit(0)
    for c in cuts:
        past = (F.col(value_col) < F.lit(c) if descending
                else F.col(value_col) > F.lit(c))
        rng = rng + F.when(past, 1).otherwise(0)
    return snap.withColumn("__rng", rng)


def _offsets(base: DataFrame, measure: Column) -> DataFrame:
    """Exclusive per-range prefix of ``measure`` plus the grand total —
    a window over ``n_ranges`` config-sized rows, never the data."""
    totals = base.groupBy("__rng").agg(measure.alias("__tot"))
    w_off = (Window.orderBy("__rng")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = (Window.orderBy("__rng")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    zero = F.lit(0).cast(totals.schema["__tot"].dataType)
    return totals.select(
        "__rng",
        F.coalesce(F.sum("__tot").over(w_off), zero).alias("__off"),
        F.sum("__tot").over(w_all).alias("__n"))


def _local_order(value_col: str, tiebreak_col: str,
                 descending: bool) -> list[Column]:
    first = (F.col(value_col).desc() if descending
             else F.col(value_col).asc())
    return [first, F.col(tiebreak_col).asc()]


def _ranked(df: DataFrame, value_col: str, tiebreak_col: str,
            descending: bool, n_ranges: int,
            checkpoint: bool = True, cuts: list | None = None) -> DataFrame:
    """Internal: df + ``__r`` (exact global row_number) + ``__n``
    (total rows), both bigint, via per-range ranks and broadcast
    offsets."""
    base = _range_bucketed(df, value_col, descending, n_ranges, checkpoint,
                           cuts)
    w_local = Window.partitionBy("__rng").orderBy(
        *_local_order(value_col, tiebreak_col, descending))
    local = base.withColumn("__rn", F.row_number().over(w_local))
    offsets = _offsets(base, F.count(F.lit(1)).cast("bigint"))
    return (
        local.join(F.broadcast(offsets), "__rng")
        .withColumn("__r", (F.col("__off") + F.col("__rn")).cast("bigint"))
        .drop("__rng", "__rn", "__off")
    )


def global_row_number(df: DataFrame, value_col: str, tiebreak_col: str,
                      *, descending: bool = False, out_col: str = "rank",
                      total_col: str | None = None, n_ranges: int = 64,
                      checkpoint: bool = True,
                      cuts: list | None = None) -> DataFrame:
    """Exact ``row_number() OVER (ORDER BY value [DESC], tiebreak)``
    with no single-partition sort — the primitive under
    :func:`global_ntile`, exposed for rank/percent_rank reports
    (``total_col`` optionally emits the row count n, free from the
    offsets frame, so percent_rank = (rank-1)/(n-1) stays row-local).
    ``value_col`` must be non-null."""
    out = (_ranked(df, value_col, tiebreak_col, descending, n_ranges,
                   checkpoint, cuts)
           .withColumnRenamed("__r", out_col))
    if total_col is not None:
        return out.withColumnRenamed("__n", total_col)
    return out.drop("__n")


def global_ntile(df: DataFrame, value_col: str, k: int, tiebreak_col: str,
                 *, descending: bool = False, out_col: str = "bucket",
                 n_ranges: int = 64, checkpoint: bool = True,
                 cuts: list | None = None) -> DataFrame:
    """Exact ``ntile(k) OVER (ORDER BY value [DESC], tiebreak)`` with no
    single-partition stage. Output is bit-identical to the window form:
    global rank r (from per-range row_number + broadcast offsets) maps
    through the equal-height formula — the first ``n % k`` buckets hold
    ``n div k + 1`` rows, the rest ``n div k``. ``value_col`` must be
    non-null (the rollups this serves aggregate non-null measures)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Integer-only bucket math (`div` is integral division) — no floats.
    bucket = F.expr(
        f"CASE WHEN __r <= __cut THEN (__r - 1) div (__q + 1) + 1 "
        f"ELSE (__n % {k}) + (__r - __cut - 1) div greatest(__q, 1) + 1 "
        f"END")
    return (
        _ranked(df, value_col, tiebreak_col, descending, n_ranges,
                checkpoint, cuts)
        .withColumn("__q", F.expr(f"__n div {k}"))
        .withColumn("__cut", F.expr(f"(__n % {k}) * (__q + 1)"))
        .withColumn(out_col, bucket.cast("int"))
        .drop("__n", "__r", "__q", "__cut")
    )


def global_running_sum(df: DataFrame, value_col: str, weight_col: str,
                       tiebreak_col: str, *, descending: bool = False,
                       out_col: str = "running_sum",
                       total_col: str | None = None, n_ranges: int = 64,
                       checkpoint: bool = True) -> DataFrame:
    """Exact ``sum(weight) OVER (ORDER BY value [DESC], tiebreak ROWS
    UNBOUNDED PRECEDING)`` as per-range local cumsum + broadcast range
    offsets. Pass an exact-typed ``weight_col`` (decimal / integer) so
    the regrouped addition is associative and oracle-stable; optionally
    also emit the grand total (``total_col``) — it falls out of the
    same config-sized offsets frame for free."""
    return global_running_sums(
        df, value_col, {weight_col: out_col}, tiebreak_col,
        descending=descending,
        total_cols={weight_col: total_col} if total_col else None,
        n_ranges=n_ranges, checkpoint=checkpoint)


def global_running_sums(df: DataFrame, value_col: str,
                        weights: "dict[str, str]", tiebreak_col: str, *,
                        descending: bool = False,
                        total_cols: "dict[str, str] | None" = None,
                        n_ranges: int = 64,
                        checkpoint: bool = True) -> DataFrame:
    """Several exact running sums over the SAME global order in ONE
    pass — one checkpoint, one boundary estimate, one local window, one
    offsets broadcast — instead of stacking :func:`global_running_sum`
    calls (each of which re-materializes and re-estimates; the
    threshold-sweep query measured 2 stacked passes at ~2× the one-pass
    cost). ``weights`` maps weight column → output column; optional
    ``total_cols`` maps weight column → grand-total output column."""
    totals = total_cols or {}
    unknown = set(totals) - set(weights)
    if unknown:
        raise ValueError(f"total_cols for non-weight columns: {unknown}")
    base = _range_bucketed(df, value_col, descending, n_ranges, checkpoint)
    w_local = (Window.partitionBy("__rng")
               .orderBy(*_local_order(value_col, tiebreak_col, descending))
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = base
    for i, wc in enumerate(weights):
        local = local.withColumn(f"__cl{i}", F.sum(wc).over(w_local))
    # one offsets frame carrying every weight's exclusive prefix + total
    per_rng = base.groupBy("__rng").agg(
        *[F.sum(wc).alias(f"__tot{i}") for i, wc in enumerate(weights)])
    w_off = (Window.orderBy("__rng")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = (Window.orderBy("__rng")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    off_cols = []
    for i in range(len(weights)):
        zero = F.lit(0).cast(per_rng.schema[f"__tot{i}"].dataType)
        off_cols.append(F.coalesce(F.sum(f"__tot{i}").over(w_off), zero)
                        .alias(f"__o{i}"))
        off_cols.append(F.sum(f"__tot{i}").over(w_all).alias(f"__n{i}"))
    offsets = per_rng.select("__rng", *off_cols)
    out = local.join(F.broadcast(offsets), "__rng")
    drop = ["__rng"]
    for i, (wc, oc) in enumerate(weights.items()):
        out = out.withColumn(oc, F.col(f"__o{i}") + F.col(f"__cl{i}"))
        if wc in totals:
            out = out.withColumn(totals[wc], F.col(f"__n{i}"))
        drop += [f"__cl{i}", f"__o{i}", f"__n{i}"]
    return out.drop(*drop)


def quantile_cut(df: DataFrame, value_col: str, probs: list[float], *,
                 descending: bool = False,
                 out_col: str = "bucket") -> DataFrame:
    """Bucket rows against EXACT interpolated percentile cut points —
    one aggregate, one 1-row broadcast, zero windows. Bucket = 1 + the
    number of cut points the value falls past, so ties on a cut point
    share the better bucket (unlike ntile, which splits ties by the
    tiebreak to equalize heights). ``probs`` must already be ordered to
    match ``descending`` (e.g. [0.75, 0.5, 0.25] for a descending
    quartile cut)."""
    if not probs:
        raise ValueError("probs must be non-empty")
    expected = sorted(probs, reverse=descending)
    if list(probs) != expected:
        raise ValueError(
            f"probs must be sorted {'descending' if descending else 'ascending'}"
            f" to match the bucket order, got {probs}")
    cuts = df.agg(*[
        F.expr(f"percentile({value_col}, {p})").alias(f"__c{i}")
        for i, p in enumerate(probs)])
    bucket: Column = F.lit(1)
    for i in range(len(probs)):
        past = (F.col(value_col) < F.col(f"__c{i}") if descending
                else F.col(value_col) > F.col(f"__c{i}"))
        bucket = bucket + F.when(past, 1).otherwise(0)
    return (df.join(F.broadcast(cuts))
            .withColumn(out_col, bucket.cast("int"))
            .drop(*[f"__c{i}" for i in range(len(probs))]))
