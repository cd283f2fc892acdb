"""In-engine quality-classifier training (distributed logistic
regression) — the DCLM / FineWeb-edu pipeline stage the other quality
ops feed: learn a cheap numeric-feature classifier that mimics an
expensive gate (here: language ID standing in for an LLM/human rater),
then score every document row-locally with the trained weights.

Scale shape: training is ``iters`` rounds of ONE map-side-combinable
aggregate each — the full-batch gradient is a k-vector of exact
DECIMAL(25,12) sums (order-free, so partition count and scheduling
cannot change the result), collected as a bounded k+1-scalar driver
artifact exactly like the k-means centroids / PageRank mass. Scoring
is a pure projection (whole-stage codegen, no shuffle, no UDF). At
100 TB the gradient pass is a single scan + partial agg per iteration
and the weight vector stays k doubles regardless of corpus size.

Cross-engine determinism (the reason this trains bit-identically in
Spark and the DuckDB oracle): the link is the ALGEBRAIC fast sigmoid
sigma(z) = 0.5 + 0.5*z/(1+|z|) — add/mul/div/abs are IEEE-754
correctly-rounded in both engines, unlike exp(), whose libm rounding
differs in the last ulp and would drift through the iteration chain.
Weights are re-quantized to 8 dp (HALF_UP both engines) after every
update, the same discipline as the Lloyd-iteration oracle.

No counterpart in the reference repo (its dbt models stop at SQL
aggregates); semantics follow the public fastText / DCLM-style
quality-filter recipe re-expressed as fixed-unroll full-batch GD.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..artifacts import materialize

WEIGHT_DP = 8     # per-iteration weight quantization (HALF_UP, both engines)
SCORE_DP = 6      # final score rounding


FEATURE_COLS = ("x0", "x1", "x2", "x3")


def text_feature_exprs(text_col: Column,
                       stopwords: tuple[str, ...]) -> dict[str, Column]:
    """The classifier's row-local feature expressions from raw text:
    bias, token count / 100, type-token ratio, stopword ratio — plus
    ``n_tok`` for callers that build a teacher label. One expression
    tree shared by the batch trainer/scorer and the streaming scorer,
    so offline and online scores are bit-identical by construction
    (zero training/serving skew). Every term is integer counts plus a
    single IEEE division — bit-reproducible across engines; libm
    functions are deliberately excluded (see the plan-level comment)."""
    from .textops import tokens

    tok = tokens(text_col)
    n_tok = F.size(tok)
    n_dist = F.size(F.array_distinct(tok))
    stop_arr = F.array(*[F.lit(w) for w in stopwords])
    n_stop = F.size(F.filter(tok, lambda t: F.array_contains(stop_arr, t)))
    return {
        "x0": F.lit(1.0),
        "x1": n_tok / F.lit(100.0),
        "x2": n_dist / n_tok,
        "x3": n_stop / n_tok,
        "n_tok": n_tok,
    }


def fast_sigmoid(z: Column) -> Column:
    """Algebraic logistic link 0.5 + 0.5*z/(1+|z|): same range/shape as
    the logistic function, but built only from correctly-rounded IEEE
    ops, so Spark and DuckDB produce bit-identical doubles."""
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))


def _dot(weights: list[float], cols: list[Column]) -> Column:
    """Fixed left-associated dot product — the oracle writes the same
    ``w0*x0 + w1*x1 + ...`` order, so float non-associativity cannot
    bite."""
    z = F.lit(weights[0]) * cols[0]
    for w, c in zip(weights[1:], cols[1:]):
        z = z + F.lit(w) * c
    return z


def logreg_train(feat: DataFrame, feature_cols: list[str], label_col: str,
                 iters: int = 3, lr: float = 0.5) -> list[float]:
    """Full-batch gradient ascent from w=0: per iteration one partial
    aggregate computes g_d = sum((y - sigma(w.x)) * x_d) as exact
    decimal sums, then w_d <- round(w_d + (lr*g_d)/n, 8) — the rounding
    happens IN-ENGINE (Spark HALF_UP == DuckDB round()), never in
    Python (whose round() is half-even). Returns the trained weights,
    a k-scalar artifact (bounded like a centroid table). ``lr`` must be
    exactly binary-representable (0.5, 0.25, ...) so the literal parses
    to the same double in both engines."""
    feat = materialize(feat, "eager")  # scanned iters+1 times
    n = feat.count()
    cols = [F.col(c) for c in feature_cols]
    weights = [0.0] * len(feature_cols)
    y = F.col(label_col)
    for _ in range(iters):
        p = fast_sigmoid(_dot(weights, cols))
        upd = feat.agg(*[
            F.round(
                F.lit(weights[d])
                + (F.lit(lr)
                   * F.sum(((y - p) * cols[d]).cast("decimal(25,12)"))
                   .cast("double")) / F.lit(float(n)),
                WEIGHT_DP).alias(f"w{d}")
            for d in range(len(feature_cols))]).collect()[0]
        weights = [float(upd[f"w{d}"]) for d in range(len(feature_cols))]
    return weights


def logreg_score(df: DataFrame, weights: list[float],
                 feature_cols: list[str]) -> Column:
    """Row-local score under trained weights (pure projection)."""
    return F.round(
        fast_sigmoid(_dot(weights, [F.col(c) for c in feature_cols])),
        SCORE_DP)
