"""LLM-training-data pipeline queries over the driver's ``documents`` and
``embeddings`` tables — dedup, near-dup, fingerprinting, text analysis,
similarity search, multimodal plumbing.

Every query has a full DuckDB oracle except four that are rows-only *by
design*: ``emb_knn_vectorized`` (numpy sum order breaks last-ulp
bit-parity), ``emb_ann_ivf_trained`` and ``emb_knn_pq_trained``
(iterative k-means is not SQL-expressible) and
``event_user_reach_approx``-style HLL (engine-specific sketches) — each
is instead cross-checked in pytest against its oracle-checked twin, an
exact bound, or a Lloyd-monotonicity invariant. The sketches (MinHash, SimHash)
are oracle-checkable *bit-for-bit* because the base hash is md5-derived
on both engines (``operators.textops.base_hash48``); the oracle SQL is
generated from the same constants (``PERM_A``/``PERM_B``/``MINHASH_P``)
the Spark operators use, so a drift in either side fails CORRECTNESS.

Scale notes are in the operator modules; the headline ones:
- near-dup candidates come from an LSH band join, never an all-pairs
  cross join;
- MinHash/SimHash signatures are single-shuffle hash aggregates;
- brute-force kNN broadcasts only the query set; the IVF variant probes
  1/n_buckets of the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import materialize
from ..operators import (
    bpe, classifier, neardup, packing, sampling, similarity, textops)
from ..operators.multimodal import extract_features, to_media_table
from ..operators.textops import (
    LANG_ORDER, LANG_STOPWORDS, MINHASH_P, chunk_tokens, content_hash,
    lang_guess, lang_score, redact, repetition_stats, tokens,
)
from ..operators.textops import quality_percentile_filter as textops_qpf
from ..operators.textops import unigram_logprob as textops_unigram
from .. import artifacts
from ..sources.tables import load_table, table_path

# Shared query parameters (mirrored into the generated oracle SQL).
SHINGLE_N = 3
NEARDUP_THRESHOLD = 0.5
KNN_QUERY_MAX_ID = 5     # query set: vec_id < 5
# Embedding width, from the embeddings table's catalog contract (all SFs
# ship array<float>[64]). Passing it explicitly lets the LSH query launch
# with ZERO driver-side actions (no .first() probe before the job graph);
# tests/test_llm_operators.py asserts the testdata actually matches.
EMB_DIM = 64
KNN_K = 10
IVF_CENTROID_MAX_ID = 8  # coarse quantizer: first 8 vectors as centroids
IVF_K = 5

_DUCK_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"
_DUCK_HASH48 = "('0x' || substr(md5({c}), 1, 12))::BIGINT"


def _memo(spark: SparkSession, key: tuple, table: str, build):
    """``artifacts.memo`` over one input table; ``key[1]`` is the
    ``sf_dir``."""
    return artifacts.memo(spark, key, [table_path(key[1], table)], build)


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def q_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized content hash: one row per distinct
    content, with the canonical (minimum) doc_id and the copy count.
    Pure hash aggregate — map-side combined, one shuffle on the hash."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(content_hash(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


ORACLE_EXACT_DEDUP = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


def q_sql_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text twin of ``docs_exact_dedup`` — the LLM-data surface
    consumed as ANSI SQL over registered views (the weather star and
    TPC-H families already have such twins; this extends the SQL API
    across the documents table). Catalyst plans it identically to the
    DataFrame form: one map-side-combined hash aggregate on the
    normalized content hash. Shares the DataFrame twin's oracle
    verbatim. Note Spark's ``regexp_replace`` is global by default
    where DuckDB needs the explicit 'g' flag."""
    from ..sources.tables import register_tables
    register_tables(spark, sf_dir)
    return spark.sql(r"""
        SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ')))
                 AS content_hash,
               min(doc_id) AS canonical_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY 1
    """)


def q_docs_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    exact-duplicate PAIRS straddle the two sources — the report a
    corpus curator reads before deciding which feeds to drop or
    down-weight (mirror sites and scraped re-posts show up as hot
    off-diagonal cells). Within-source duplication sits on the
    diagonal.

    Scale shape: one hash aggregate to (content_hash, source, count) —
    map-side combinable, 16-byte keys — then a self-join ONLY on hashes
    with ≥2 docs (the duplicate tail, tiny by construction after the
    having-filter), never on the corpus. Pair counts: cross-source
    cells are n_a·n_b; the diagonal is C(n,2) per group, summed."""
    docs = load_table(spark, sf_dir, "documents")
    g = (docs.select(content_hash(F.col("text")).alias("h"), "source")
         .groupBy("h", "source")
         .agg(F.count(F.lit(1)).alias("n")))
    dup_h = (g.groupBy("h").agg(F.sum("n").alias("tot"))
             .filter(F.col("tot") >= 2).select("h"))
    gd = g.join(F.broadcast(dup_h), "h")
    a = gd.select("h", F.col("source").alias("source_a"),
                  F.col("n").alias("n_a"))
    b = gd.select("h", F.col("source").alias("source_b"),
                  F.col("n").alias("n_b"))
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") <= F.col("source_b"))
        .withColumn("__pairs",
                    F.when(F.col("source_a") == F.col("source_b"),
                           F.col("n_a") * (F.col("n_a") - 1) / 2)
                    .otherwise(F.col("n_a") * F.col("n_b")))
        .filter(F.col("__pairs") > 0)
        .groupBy("source_a", "source_b")
        .agg(F.sum("__pairs").cast("bigint").alias("dup_pairs"),
             F.count_distinct("h").alias("n_shared_contents"))
    )
    return pairs


def _oracle_cross_source_dup() -> str:
    return r"""
WITH g AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
         source, count(*) AS n
  FROM documents GROUP BY 1, 2
),
duph AS (SELECT h FROM g GROUP BY h HAVING sum(n) >= 2),
gd AS (SELECT g.* FROM g JOIN duph USING (h)),
p AS (
  SELECT a.h, a.source AS source_a, b.source AS source_b,
         CASE WHEN a.source = b.source THEN a.n * (a.n - 1) / 2
              ELSE a.n * b.n END AS pairs
  FROM gd a JOIN gd b ON a.h = b.h AND a.source <= b.source
)
SELECT source_a, source_b, sum(pairs)::BIGINT AS dup_pairs,
       count(DISTINCT h)::BIGINT AS n_shared_contents
FROM p WHERE pairs > 0
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# BPE tokenizer induction (operators/bpe.py)
# --------------------------------------------------------------------------

# Merge count for the trained tokenizer. Like IVF_TRAIN_ITERS, a fixed
# unroll knob: each merge is one histogram aggregate + one row-local
# re-fold, and the oracle unrolls the same count as MATERIALIZED CTEs
# (materialization matters — each iteration references its predecessor
# ~8×, so inlined CTEs would expand 8^K-fold).
BPE_MERGES = 4


def _bpe_artifacts(spark: SparkSession, sf_dir: str):
    """Trained merge table + segmented vocab (the tokenizer artifact
    production writes to disk)."""
    def build():
        hist = bpe.word_histogram(load_table(spark, sf_dir, "documents"))
        merges, vocab = bpe.bpe_train(hist, BPE_MERGES)
        return merges, [(r["word"], int(r["cnt"]), list(r["syms"]))
                        for r in vocab.collect()]
    return _memo(spark, ("bpe", sf_dir, BPE_MERGES), "documents", build)


def q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training on the corpus word histogram — the
    "induce the tokenizer from the data" step (Sennrich et al. 2016).
    The corpus is scanned ONCE into the vocabulary-bounded (word, count)
    histogram; every merge iteration runs on that histogram alone
    (operators/bpe.py — greedy-leftmost fold, ties lexicographic).
    Output is the learned merge table, i.e. the tokenizer artifact. The
    oracle replays the identical training as fixed-unroll MATERIALIZED
    CTEs, window-closed-form greedy semantics — hash-matching it proves
    the distributed trainer bit-equals a single-node reference."""
    merges, _ = _bpe_artifacts(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint")


def q_docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token counts under the trained merges — the
    budget/packing input a tokenizer-aware pipeline computes. The
    segmentation is applied to the DISTINCT-word vocab (bounded), then
    broadcast-joined to the token stream: per-doc work is a dictionary
    lookup, the corpus is never re-folded."""
    docs = load_table(spark, sf_dir, "documents")
    _, vocab_rows = _bpe_artifacts(spark, sf_dir)
    vocab = spark.createDataFrame(
        vocab_rows, "word string, cnt long, syms array<string>")
    return bpe.bpe_segment_counts(docs, vocab)


def _bpe_iter_cte(i: int) -> str:
    p = i - 1
    return f"""
pe{i} AS (SELECT cnt, syms, unnest(range(1, len(syms))) AS j FROM v{p}),
pc{i} AS (SELECT syms[j] AS a, syms[j+1] AS b, sum(cnt)::BIGINT AS c
          FROM pe{i} GROUP BY 1, 2),
best{i} AS MATERIALIZED (SELECT a, b, c FROM pc{i}
                         ORDER BY c DESC, a, b LIMIT 1),
x{i} AS (SELECT word, cnt, syms, unnest(range(1, len(syms)+1)) AS j
         FROM v{p}),
y{i} AS (
  SELECT word, cnt, j, syms[j] AS sym,
         syms[j] = (SELECT a FROM best{i})
         AND coalesce(syms[j+1] = (SELECT b FROM best{i}), FALSE) AS mtch
  FROM x{i}),
w{i} AS (
  SELECT word, cnt, j, sym, mtch,
         coalesce(max(CASE WHEN sym <> (SELECT a FROM best{i}) THEN j END)
             OVER (PARTITION BY word ORDER BY j
                   ROWS UNBOUNDED PRECEDING), 0) AS lastnp
  FROM y{i}),
s{i} AS (
  SELECT word, cnt, j, sym,
         coalesce(mtch AND ((SELECT a FROM best{i})
                            <> (SELECT b FROM best{i})
                            OR (j - lastnp) % 2 = 1), FALSE) AS do_merge
  FROM w{i}),
o{i} AS (
  SELECT word, cnt, j, do_merge, sym,
         coalesce(lag(do_merge) OVER (PARTITION BY word ORDER BY j),
                  FALSE) AS consumed
  FROM s{i}),
v{i} AS MATERIALIZED (
  SELECT word, cnt,
         list(CASE WHEN do_merge
                   THEN (SELECT a FROM best{i}) || (SELECT b FROM best{i})
                   ELSE sym END ORDER BY j) AS syms
  FROM o{i} WHERE NOT consumed
  GROUP BY word, cnt)"""


def _bpe_ctes() -> str:
    # Greedy-leftmost closed form per iteration: when left ≠ right,
    # adjacent matches cannot overlap, so every match merges; when
    # left == right, a position merges iff its streak of identical
    # predecessors (j − last-non-left position) is odd — exactly the
    # sequential fold's behavior, window-expressible.
    base = rf"""
btok AS (SELECT unnest({_DUCK_TOKENS}) AS word FROM documents),
wh AS (SELECT word, count(*) AS cnt FROM btok
       WHERE length(word) > 0 GROUP BY 1),
v0 AS MATERIALIZED (SELECT word, cnt, regexp_extract_all(word, '.') AS syms
                    FROM wh)"""
    return base + "".join("," + _bpe_iter_cte(i)
                          for i in range(1, BPE_MERGES + 1))


def _oracle_bpe_merges() -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, c AS pair_count FROM best{i}"
        for i in range(1, BPE_MERGES + 1))
    return f"WITH {_bpe_ctes()}\n{sel}"


def _oracle_bpe_encode() -> str:
    return rf"""
WITH {_bpe_ctes()},
dtok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS word FROM documents),
seg AS (SELECT word, len(syms)::BIGINT AS n_sub FROM v{BPE_MERGES})
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       sum(n_sub)::BIGINT AS n_bpe_tokens
FROM dtok JOIN seg USING (word)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


def q_docs_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics + a quality score: token counts,
    type-token ratio, mean token length, English stopword ratio, BPE-ish
    subtoken count (greedy ≤4-char alpha chunks). All built-in expressions
    over one projection — no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    n_tok = F.size(tok)
    n_distinct = F.size(F.array_distinct(tok))
    sum_len = F.aggregate(F.transform(tok, F.length),
                          F.lit(0), lambda a, v: a + v)
    stop_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(tok, lambda t: F.array_contains(stop_arr, t)))
    ttr = n_distinct / n_tok
    stop_ratio = n_stop / n_tok
    quality = ttr - stop_ratio + F.log(F.lit(1.0) + n_tok) / 10
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]{1,4}"), 0))
        .alias("n_subtokens"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(sum_len / n_tok, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


_EN_STOP_SQL = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])

ORACLE_TEXT_STATS = rf"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS tok FROM documents),
m AS (
  SELECT doc_id, text, tok,
         len(tok) AS n_tokens,
         len(list_distinct(tok)) AS n_distinct_tokens,
         list_sum(list_transform(tok, x -> length(x))) AS sum_len,
         len(list_filter(tok, x -> x IN ({_EN_STOP_SQL}))) AS n_stop
  FROM t
)
SELECT doc_id,
       n_tokens::INT AS n_tokens,
       n_distinct_tokens::INT AS n_distinct_tokens,
       len(regexp_extract_all(text, '[a-z]{{1,4}}'))::INT AS n_subtokens,
       round(n_distinct_tokens * 1.0 / n_tokens, 6) AS type_token_ratio,
       round(sum_len * 1.0 / n_tokens, 6) AS avg_token_len,
       round(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
       round(n_distinct_tokens * 1.0 / n_tokens - n_stop * 1.0 / n_tokens
             + ln(1.0 + n_tokens) / 10, 6) AS quality_score
FROM m
"""


# --------------------------------------------------------------------------
# In-engine quality-classifier training (operators/classifier.py)
# --------------------------------------------------------------------------

# Fixed-unroll GD knobs (same contract as BPE_MERGES / PQ_TRAIN_ITERS:
# the oracle replays the identical count as MATERIALIZED CTEs). lr must
# be exactly binary-representable so the literal parses identically.
LOGREG_ITERS = 5
LOGREG_LR = 2.0
# Teacher gate: a composite quality score (ttr - stopword ratio + a
# saturating length bonus), thresholded near its corpus median
# (~45-50% positive at every sf). The label expression is deliberately
# LIBM-FREE (r8 advisor finding): the previous ln(1+n_tok)/10 length
# term meant a doc whose quality landed within 1 ulp of the threshold
# could flip its label between Spark (java Math.log) and DuckDB (C
# libm ln), cascading through all GD iterations into every weight and
# score hash. The replacement n_tok/(n_tok + 400.0) uses only an exact
# int->double add and one correctly-rounded IEEE division, so both
# engines compute the identical double and no drift can cross the
# compare. The bonus is still a NON-LINEAR (saturating) function of
# the length feature x1 = n_tok/100, so the linear student cannot
# represent the teacher exactly — the honest distillation gap the
# accuracy pytest pins is retained (0.88 vs 0.50 base at sf0.01).
LOGREG_QUALITY_THRESHOLD = 0.52
LOGREG_LEN_SATURATION = 400.0   # bonus = n_tok / (n_tok + this)
LOGREG_FEATURES = classifier.FEATURE_COLS


def _logreg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-local numeric features + the teacher label: y = 1 iff the
    docs_text_stats composite quality score clears the threshold. The
    features (length, type-token ratio, stopword ratio) nearly
    determine the teacher, so the student's fit is a meaningful
    semantic check, not just a determinism one."""
    docs = load_table(spark, sf_dir, "documents")
    fx = classifier.text_feature_exprs(F.col("text"), LANG_STOPWORDS["en"])
    quality = (fx["x2"] - fx["x3"]
               + fx["n_tok"] / (fx["n_tok"]
                                + F.lit(LOGREG_LEN_SATURATION)))
    return docs.select(
        "doc_id",
        F.when(quality > LOGREG_QUALITY_THRESHOLD,
               F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        *[fx[c].alias(c) for c in LOGREG_FEATURES])


def _classifier_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored-corpus artifact (doc_id, label, score, pred), built once
    per (session, sf_dir): train (k+1-scalar weights), score
    row-locally, localCheckpoint. The whole classifier readout family
    (AUC, calibration, threshold sweep) reads THIS table instead of
    re-tokenizing the corpus per readout — in production the gating
    pipeline writes the scores once and every evaluation reads them."""
    def build():
        feat = _logreg_features(spark, sf_dir)
        w = classifier.logreg_train(feat, list(LOGREG_FEATURES), "y",
                                    iters=LOGREG_ITERS, lr=LOGREG_LR)
        return materialize(feat.select(
            "doc_id",
            F.col("y").cast("int").alias("label"),
            classifier.logreg_score(feat, w, list(LOGREG_FEATURES))
            .alias("score"))
            .withColumn("pred", (F.col("score") >= F.lit(0.5)).cast("int")),
            "eager")
    return _memo(spark, ("clf_scored", sf_dir, LOGREG_ITERS), "documents",
                 build)


def q_docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCLM / FineWeb-edu-style quality-classifier stage, trained
    IN-ENGINE: distill the composite quality gate into a linear model
    by LOGREG_ITERS rounds of full-batch gradient ascent (one
    map-side-combinable exact-decimal aggregate per round, k+1-scalar
    driver artifact — operators/classifier.py), then score every doc
    row-locally under the trained weights. The algebraic fast-sigmoid
    link keeps every double bit-identical to the DuckDB oracle's
    fixed-unroll replay — hash-matching proves the distributed trainer
    equals a sequential reference bit-for-bit (the pytest twin checks
    the same against a pure-Python Decimal implementation). Scores are
    served from the per-session :func:`_classifier_scored` artifact."""
    return _classifier_scored(spark, sf_dir)


def _logreg_feat_cte() -> str:
    return rf"""
ltok AS (SELECT doc_id, {_DUCK_TOKENS} AS tok FROM documents),
lraw AS (
  SELECT doc_id, len(tok) AS n_tok,
         len(list_distinct(tok)) * 1.0 / len(tok) AS ttr,
         len(list_filter(tok, x -> x IN ({_EN_STOP_SQL})))
           * 1.0 / len(tok) AS stop_r
  FROM ltok),
feat AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN (ttr - stop_r + n_tok / (n_tok + {LOGREG_LEN_SATURATION}))
                   > {LOGREG_QUALITY_THRESHOLD} THEN 1.0 ELSE 0.0 END AS y,
         1.0 AS x0, n_tok / 100.0 AS x1, ttr AS x2, stop_r AS x3
  FROM lraw),
nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM feat)"""


def _oracle_quality_classifier() -> str:
    # Fixed-unroll GD replay. The z / sigma expressions are written in
    # the exact association order the Spark side builds (left-assoc dot
    # product, 0.5 + 0.5*z/(1+abs(z))) — every op is IEEE
    # correctly-rounded, so the doubles match bit-for-bit; gradient
    # sums are exact DECIMAL(25,12); weights re-quantized to 8 dp
    # HALF_UP each round, same as the Spark trainer.
    k = len(LOGREG_FEATURES)
    ctes = [_logreg_feat_cte().strip(),
            "w0 AS (SELECT " + ", ".join(
                f"0.0 AS w{d}" for d in range(k)) + ")"]
    zexpr = " + ".join(f"w.w{d} * f.x{d}" for d in range(k))
    for i in range(1, LOGREG_ITERS + 1):
        ctes.append(f"""z{i} AS (
  SELECT f.*, {zexpr} AS z FROM feat f, w{i - 1} w)""")
        ctes.append(f"""p{i} AS (
  SELECT *, 0.5 + 0.5 * z / (1.0 + abs(z)) AS pr FROM z{i})""")
        upd = ", ".join(
            f"round(w.w{d} + ({LOGREG_LR} * "
            f"(sum(((f.y - f.pr) * f.x{d})::DECIMAL(25,12)))::DOUBLE)"
            f" / nn.n, 8) AS w{d}"
            for d in range(k))
        wcols = ", ".join(f"w.w{d}" for d in range(k))
        ctes.append(f"""w{i} AS MATERIALIZED (
  SELECT {upd}
  FROM p{i} f, w{i - 1} w, nn
  GROUP BY {wcols}, nn.n)""")
    body = ",\n".join(ctes)
    return rf"""
WITH {body},
zf AS (SELECT f.doc_id, f.y, {zexpr} AS z
       FROM feat f, w{LOGREG_ITERS} w),
sc AS (SELECT doc_id, y::INT AS label,
              round(0.5 + 0.5 * z / (1.0 + abs(z)), 6) AS score
       FROM zf)
SELECT doc_id, label, score, (score >= 0.5)::INT AS pred FROM sc
"""


def q_docs_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the trained quality classifier — the model-
    evaluation op a classifier-gated pipeline needs before trusting the
    gate. Computed WITHOUT materializing positive×negative pairs, by
    the rank-sum identity: AUC = Σ_v np_v·(2·neg_below(v) + nn_v) /
    (2·npos·nneg), all integer arithmetic until the one final division
    (ties handled exactly by the ½ convention).

    Scale shape: one groupBy collapses the corpus to the DISTINCT-SCORE
    frame — bounded by the score VALUE DOMAIN (≤ 10^6+1 six-dp values
    in [0,1]), not the corpus — then the prefix sum of negatives runs
    through the range-parallel global_running_sum primitive (no
    single-partition window), and a final 1-row aggregate. Integer
    numerator < 2·npos·nneg, so int64 holds past 4B docs."""
    from ..operators import quantiles

    sc = q_docs_quality_classifier(spark, sf_dir).select("score", "label")
    byv = (sc.groupBy("score")
           .agg(F.sum("label").cast("long").alias("np_v"),
                F.sum(F.lit(1) - F.col("label")).cast("long").alias("nn_v")))
    cum = quantiles.global_running_sum(byv, "score", "nn_v", "score",
                                       out_col="cn")
    return (cum.agg(
        F.sum("np_v").alias("n_pos"),
        F.sum("nn_v").alias("n_neg"),
        F.sum(F.col("np_v")
              * (F.lit(2) * (F.col("cn") - F.col("nn_v"))
                 + F.col("nn_v"))).alias("num2"))
        .select("n_pos", "n_neg",
                F.round(F.col("num2")
                        / (F.lit(2) * F.col("n_pos") * F.col("n_neg")), 6)
                .alias("auc")))


def _oracle_classifier_auc() -> str:
    return rf"""
WITH csc AS MATERIALIZED ({_oracle_quality_classifier()}),
byv AS (SELECT score, sum(label)::BIGINT AS np_v,
               sum(1 - label)::BIGINT AS nn_v
        FROM csc GROUP BY score),
cum AS (SELECT score, np_v, nn_v,
               sum(nn_v) OVER (ORDER BY score
                               ROWS UNBOUNDED PRECEDING)::BIGINT AS cn
        FROM byv)
SELECT sum(np_v)::BIGINT AS n_pos, sum(nn_v)::BIGINT AS n_neg,
       round(sum(np_v * (2 * (cn - nn_v) + nn_v))
             / (2 * sum(np_v) * sum(nn_v)), 6) AS auc
FROM cum
"""


CAL_BINS = 10


def q_docs_classifier_calibration(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Reliability table for the trained classifier: decile-bin the
    scores and compare mean predicted score with the empirical positive
    rate per bin — the calibration readout that decides whether the
    gate's threshold is trustworthy. Row-local binning + one partial
    agg; scores sit on the 6-dp grid so the decimal mean is exact."""
    sc = q_docs_quality_classifier(spark, sf_dir).select("score", "label")
    b = F.least(F.floor(F.col("score") * CAL_BINS).cast("int"),
                F.lit(CAL_BINS - 1))
    return (sc.groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("label").cast("long").alias("n_pos"),
                 F.round(F.sum(F.col("score").cast("decimal(18,6)"))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("mean_score"),
                 F.round(F.sum("label") / F.count(F.lit(1)), 6)
                 .alias("frac_pos")))


def _oracle_classifier_calibration() -> str:
    return rf"""
WITH csc AS MATERIALIZED ({_oracle_quality_classifier()})
SELECT least(floor(score * {CAL_BINS})::INT, {CAL_BINS - 1}) AS bin,
       count(*)::BIGINT AS n,
       sum(label)::BIGINT AS n_pos,
       round((sum(score::DECIMAL(18,6)))::DOUBLE / count(*), 6)
         AS mean_score,
       round(sum(label) / count(*), 6) AS frac_pos
FROM csc GROUP BY 1
"""


def _classifier_threshold_metrics(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Confusion counts at EVERY candidate operating point (predict
    positive iff score >= t, t ranging over the distinct observed
    scores), from one pass over the distinct-score frame: suffix
    TP/FP fall out of the same range-parallel prefix sums the AUC
    query uses (tp = npos - cum_np + np_v), so the whole threshold
    sweep costs ONE one-pass global_running_sums call over a frame bounded by
    the score VALUE DOMAIN (<= 10^6+1 six-dp values), never the
    corpus. All counts stay exact int64; each metric is integer
    arithmetic until one final correctly-rounded IEEE division, so
    both engines rank candidate thresholds identically."""
    from ..operators import quantiles

    sc = q_docs_quality_classifier(spark, sf_dir).select("score", "label")
    byv = (sc.groupBy("score")
           .agg(F.sum("label").cast("long").alias("np_v"),
                F.sum(F.lit(1) - F.col("label")).cast("long").alias("nn_v")))
    cum = quantiles.global_running_sums(
        byv, "score", {"np_v": "cp", "nn_v": "cn"}, "score",
        total_cols={"np_v": "npos", "nn_v": "nneg"})
    m0 = cum.select(
        F.col("score").alias("threshold"),
        (F.col("npos") - F.col("cp") + F.col("np_v")).alias("tp"),
        (F.col("nneg") - F.col("cn") + F.col("nn_v")).alias("fp"),
        (F.col("cp") - F.col("np_v")).alias("fn"),
        (F.col("cn") - F.col("nn_v")).alias("tn"),
        "npos", "nneg")
    return m0.select(
        "threshold", "tp", "fp", "fn", "tn",
        ((F.lit(2) * F.col("tp"))
         / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"))).alias("f1"),
        (F.col("tp") / F.col("npos")
         - F.col("fp") / F.col("nneg")).alias("j"))


def q_docs_classifier_threshold(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Operating-point selection for the trained quality gate — the
    decision the AUC/calibration readouts exist to inform: sweep every
    candidate threshold (each distinct score) and report the best-F1
    and best-Youden-J cuts with their EXACT integer confusion counts.
    Ties on the metric resolve to the smallest threshold (the most
    permissive gate among equals), so the argmax is deterministic.

    Scale shape: the sweep is the AUC query's distinct-score frame
    (bounded by the 6-dp score domain, not the corpus) plus two
    bounded aggregates per criterion — no per-threshold rescan of the
    corpus, no single-partition window."""
    # shared: both consumers of the metrics frame (the maxima
    # aggregate and the sweep join below) live inside the final action.
    m = materialize(_classifier_threshold_metrics(spark, sf_dir), "shared")
    # one aggregate finds BOTH criteria's maxima; matching rows tag
    # themselves via a row-local explode, and the min-threshold tie
    # break is a broadcast semi-aggregate — 2 bounded jobs total
    # instead of 2 per criterion.
    best = m.agg(F.max("f1").alias("__bf1"), F.max("j").alias("__bj"))
    cand = (m.join(F.broadcast(best))
            .select("threshold", "tp", "fp", "fn", "tn",
                    F.explode(F.filter(F.array(
                        F.when(F.col("f1") == F.col("__bf1"), F.struct(
                            F.lit("f1").alias("criterion"),
                            F.col("f1").alias("metric"))),
                        F.when(F.col("j") == F.col("__bj"), F.struct(
                            F.lit("youden").alias("criterion"),
                            F.col("j").alias("metric")))),
                        lambda x: x.isNotNull())).alias("__c"))
            .select("__c.criterion", "threshold", "tp", "fp", "fn", "tn",
                    "__c.metric"))
    pick = cand.groupBy("criterion").agg(
        F.min("threshold").alias("threshold"))
    return (cand.join(F.broadcast(pick), ["criterion", "threshold"])
            .select("criterion", "threshold", "tp", "fp", "fn", "tn",
                    F.round(F.col("metric"), 6).alias("metric")))


def _oracle_classifier_threshold() -> str:
    return rf"""
WITH csc AS MATERIALIZED ({_oracle_quality_classifier()}),
byv AS (SELECT score, sum(label)::BIGINT AS np_v,
               sum(1 - label)::BIGINT AS nn_v
        FROM csc GROUP BY score),
cum AS (SELECT score, np_v, nn_v,
               sum(np_v) OVER (ORDER BY score
                               ROWS UNBOUNDED PRECEDING)::BIGINT AS cp,
               sum(nn_v) OVER (ORDER BY score
                               ROWS UNBOUNDED PRECEDING)::BIGINT AS cn
        FROM byv),
tot AS (SELECT sum(np_v)::BIGINT AS npos, sum(nn_v)::BIGINT AS nneg
        FROM byv),
m0 AS (SELECT score AS threshold,
              (npos - cp + np_v) AS tp, (nneg - cn + nn_v) AS fp,
              (cp - np_v) AS fn, (cn - nn_v) AS tn, npos, nneg
       FROM cum, tot),
m AS MATERIALIZED (
  SELECT threshold, tp, fp, fn, tn,
         (2 * tp) / (2 * tp + fp + fn) AS f1,
         tp / npos - fp / nneg AS j
  FROM m0)
SELECT 'f1' AS criterion, threshold, tp, fp, fn, tn,
       round(f1, 6) AS metric
FROM m WHERE f1 = (SELECT max(f1) FROM m)
  AND threshold = (SELECT min(threshold) FROM m
                   WHERE f1 = (SELECT max(f1) FROM m))
UNION ALL
SELECT 'youden', threshold, tp, fp, fn, tn, round(j, 6)
FROM m WHERE j = (SELECT max(j) FROM m)
  AND threshold = (SELECT min(threshold) FROM m
                   WHERE j = (SELECT max(j) FROM m))
"""


def q_docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language under the trained BPE merges —
    the multilingual-pipeline health metric (how many subtokens a word
    costs per language decides per-language token budgets). The
    segmented DISTINCT-word vocab (bounded) broadcasts onto the token
    stream; per-lang work is one map-side-combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    _, vocab_rows = _bpe_artifacts(spark, sf_dir)
    vocab = spark.createDataFrame(
        vocab_rows, "word string, cnt long, syms array<string>")
    seg = vocab.select("word", F.size("syms").cast("long").alias("n_sub"))
    tok = docs.select("lang", F.explode(tokens(F.col("text"))).alias("word"))
    return (tok.join(F.broadcast(seg), "word")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_sub").alias("n_bpe_tokens"),
                 F.sum(F.length("word")).cast("long").alias("n_chars"),
                 F.round(F.sum(F.length("word")) / F.sum("n_sub"), 6)
                 .alias("chars_per_token"),
                 F.round(F.sum("n_sub") / F.count(F.lit(1)), 6)
                 .alias("fertility")))


def _oracle_tokenizer_fertility() -> str:
    return rf"""
WITH {_bpe_ctes()},
ftok AS (SELECT lang, unnest({_DUCK_TOKENS}) AS word FROM documents),
fseg AS (SELECT word, len(syms)::BIGINT AS n_sub FROM v{BPE_MERGES})
SELECT lang, count(*)::BIGINT AS n_words,
       sum(n_sub)::BIGINT AS n_bpe_tokens,
       sum(length(word))::BIGINT AS n_chars,
       round(sum(length(word)) * 1.0 / sum(n_sub), 6) AS chars_per_token,
       round(sum(n_sub) * 1.0 / count(*), 6) AS fertility
FROM ftok JOIN fseg USING (word)
GROUP BY lang
"""


def q_docs_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-table language-ID heuristic next to the declared label."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        lang_guess(tok).alias("lang_guess"),
        lang_score(tok, "en").cast("int").alias("en_hits"),
    )


def _oracle_lang_guess() -> str:
    scores = {
        lang: f"len(list_filter(tok, x -> x IN ({', '.join(repr(w) for w in LANG_STOPWORDS[lang])})))"
        for lang in LANG_ORDER
    }
    greatest = f"greatest({', '.join(scores.values())})"
    whens = "\n       ".join(
        f"WHEN {scores[lang]} = {greatest} THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"""
WITH t AS (SELECT doc_id, lang, {_DUCK_TOKENS} AS tok FROM documents)
SELECT doc_id,
       lang AS declared_lang,
       CASE WHEN {greatest} = 0 THEN 'und'
       {whens}
       END AS lang_guess,
       {scores['en']}::INT AS en_hits
FROM t
"""


VOCAB_SIZE = 1000


def q_docs_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with stable frequency-ranked token ids — the
    token→id dictionary a training pipeline ships with its tokenizer.

    Scale shape: the explode+count aggregate reduces the corpus to |V|
    rows (map-side combined); the top-N is a TakeOrdered, and the global
    id-assigning window runs over only those N rows — the corpus itself
    never meets a single-partition operator."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(VOCAB_SIZE)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return counts.select(
        "token", "n_occurrences",
        (F.row_number().over(w) - 1).cast("int").alias("token_id"))


ORACLE_VOCABULARY = rf"""
WITH tok AS (SELECT unnest({_DUCK_TOKENS}) AS token FROM documents),
counts AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY token),
top AS (SELECT * FROM counts
        ORDER BY n_occurrences DESC, token LIMIT {VOCAB_SIZE})
SELECT token, n_occurrences,
       (row_number() OVER (ORDER BY n_occurrences DESC, token) - 1)::INT
         AS token_id
FROM top
"""


# --------------------------------------------------------------------------
# Fingerprints: SimHash + MinHash/LSH near-dup pairs
# --------------------------------------------------------------------------


def q_docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return neardup.simhash(docs)


def _simhash_cte() -> str:
    """tok → per-bit weighted sums → fingerprint, as a ``sim`` CTE —
    shared by the fingerprint oracle and the pairing oracle."""
    hv = _DUCK_HASH48.format(c="t")
    sums = ",\n         ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(neardup.SIMHASH_BITS))
    fp = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END"
        for i in range(neardup.SIMHASH_BITS))
    return rf"""tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents),
hh AS (SELECT doc_id, {hv} AS hv FROM tok),
agg AS (SELECT doc_id,
         {sums}
        FROM hh GROUP BY doc_id),
sim AS (SELECT doc_id, ({fp})::BIGINT AS simhash FROM agg)"""


def _oracle_simhash() -> str:
    return rf"""
WITH {_simhash_cte()}
SELECT doc_id, simhash FROM sim
"""


def q_docs_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming near-dup pairs — exact band-blocked pairing (4
    bands > Hamming threshold 3, so pigeonhole guarantees recall)."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.simhash_pairs(docs)


def _oracle_simhash_pairs() -> str:
    nb = neardup.SIMHASH_BANDS
    bits = neardup.SIMHASH_BAND_BITS
    mask = (1 << bits) - 1
    mh = neardup.SIMHASH_MAX_HAMMING
    return rf"""
WITH {_simhash_cte()},
bands AS (
  SELECT doc_id, simhash, bx.band,
         (simhash >> (bx.band * {bits})) & {mask} AS val
  FROM sim, (SELECT unnest(range(0, {nb})) AS band) bx
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a AS doc_a, id_b AS doc_b,
       bit_count(xor(sh_a, sh_b))::INT AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {mh}
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, hv) shingle-set table, built once per
    (session, sf_dir) — the base artifact the exact set-similarity
    operators (Jaccard prefix join, containment join) read instead of
    re-tokenizing the corpus; in production this IS a table the dedup
    pipeline writes first."""
    return _memo(
        spark, ("shingles", sf_dir, SHINGLE_N), "documents",
        lambda: materialize(neardup.shingle_hashes(
            load_table(spark, sf_dir, "documents"), "doc_id", "text",
            SHINGLE_N), "eager"))


def _full_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pair set, discovered ONCE per (session, sf_dir)
    and reused by every consumer — in production the dedup pipeline
    materializes pairs once and every downstream step reads the
    table."""
    return _memo(
        spark, ("full_pairs", sf_dir, SHINGLE_N, NEARDUP_THRESHOLD),
        "documents",
        lambda: materialize(neardup.near_dup_pairs(
            load_table(spark, sf_dir, "documents"), n=SHINGLE_N,
            threshold=NEARDUP_THRESHOLD), "eager"))


def q_docs_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _full_pairs(spark, sf_dir)


def _shingle_cte(src: str = "documents", suffix: str = "") -> str:
    """tok → shingles → distinct (doc_id, hv) hashes — the shared head of
    every shingle-set oracle, generated from the same constants as
    ``neardup.shingle_hashes``. ``src`` lets composed pipelines (e.g. the
    training-mix chain) run the same sketch over a filtered CTE;
    ``suffix`` renames the CTEs (tok2/sh02/h2) so one query can shingle
    TWO corpora (e.g. raw for the hot set, scrubbed for the join)."""
    n = SHINGLE_N
    shingle_parts = " || ' ' || ".join(f"w[i + {k}]" for k in range(n))
    hv = _DUCK_HASH48.format(c="shingle")
    s = suffix
    return rf"""tok{s} AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM {src}),
sh0{s} AS (SELECT doc_id,
               unnest(list_transform(range(1, len(w) - {n - 2}),
                                     i -> {shingle_parts})) AS shingle
        FROM tok{s}),
h{s} AS (SELECT DISTINCT doc_id, {hv} AS hv FROM sh0{s})"""


def _verify_jaccard_sql(threshold: float) -> str:
    """Exact-Jaccard verification tail over a ``cand``/``h`` CTE pair —
    the SQL twin of ``neardup.verify_jaccard``."""
    return rf"""sizes AS (SELECT doc_id, count(*) AS n_sh FROM h GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.hv = x.hv
  GROUP BY c.id_a, c.id_b
),
scored AS (
  SELECT c.id_a AS doc_a, c.id_b AS doc_b,
         round(coalesce(i.n_inter, 0) * 1.0
               / (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
)
SELECT * FROM scored WHERE jaccard >= {threshold}"""


def _minhash_cand_cte(src: str = "documents") -> str:
    """Shared CTE chain (tokens → shingle hashes → signatures → bands →
    candidate pairs), generated from the SAME constants the Spark
    operators use. Reused by every oracle that consumes LSH candidates."""
    mins = ",\n        ".join(
        f"min(({neardup.PERM_A[j]} * hv + {neardup.PERM_B[j]}) % {MINHASH_P}) AS mh_{j}"
        for j in range(neardup.NUM_PERM))
    band_selects = []
    for b in range(neardup.BANDS):
        cols = ", ".join(f"mh_{b * neardup.ROWS_PER_BAND + r}"
                         for r in range(neardup.ROWS_PER_BAND))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5(concat_ws('-', {cols})) AS band_hash FROM sig")
    bands_sql = "\n  UNION ALL ".join(band_selects)
    return rf"""{_shingle_cte(src)},
sig AS (SELECT doc_id,
        {mins}
        FROM h GROUP BY doc_id),
bands AS (
  {bands_sql}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)"""


def _oracle_near_dup(src: str = "documents") -> str:
    return rf"""
WITH {_minhash_cand_cte(src)},
{_verify_jaccard_sql(NEARDUP_THRESHOLD)}
"""


def q_docs_minhash_calibration(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Sketch-accuracy calibration for the MinHash estimator — the
    readout that decides whether the estimate can replace exact
    verification at a given threshold: over every LSH candidate pair,
    compare the signature-agreement estimate (matching coordinates /
    NUM_PERM) with the exact shingle Jaccard, bucketed by exact
    Jaccard in 0.1 steps (n_pairs, mean estimate, mean exact, signed
    bias per bucket). The E[agreement] = J identity is what LSH
    banding's collision probabilities are built on; the bias column is
    its empirical check on this corpus.

    Determinism discipline: per-bucket means avoid cross-row float
    sums — the estimate aggregates as an INTEGER matching-coordinate
    sum divided once at the end, and the exact Jaccard (already on the
    6-dp grid) sums as DECIMAL(18,6) — so both engines aggregate
    exactly and divide once (correctly rounded). Work is |candidates|
    row-local comparisons + one partial agg."""
    sh = _shingles(spark, sf_dir)
    # The signature frame feeds THREE plan branches (the LSH banding
    # inside lsh_candidate_pairs plus both sides of the coordinate-
    # agreement self-join below); uncached, the 24-permutation min
    # aggregate over the full shingle table ran 3× per invocation.
    # |docs| signature rows is a small cache at any scale.
    sigs = materialize(neardup.minhash_from_shingles(sh, "doc_id"), "shared")
    cand = neardup.lsh_candidate_pairs(sigs, "doc_id")
    exact = neardup.verify_jaccard(cand, sh, "doc_id", 0.0)
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     *[F.col(f"mh_{j}").alias(f"a{j}")
                       for j in range(neardup.NUM_PERM)])
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     *[F.col(f"mh_{j}").alias(f"b{j}")
                       for j in range(neardup.NUM_PERM)])
    nm = None
    for j in range(neardup.NUM_PERM):
        t = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        nm = t if nm is None else nm + t
    pairs = (exact.join(sa, "doc_a").join(sb, "doc_b")
             .select("doc_a", "doc_b", "jaccard", nm.alias("n_match")))
    g = (pairs
         .groupBy(F.floor(F.round(F.col("jaccard") / 0.1, 9)).cast("int")
                  .alias("bucket"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
              F.round(F.sum("n_match")
                      / (F.lit(float(neardup.NUM_PERM))
                         * F.count(F.lit(1))), 6)
              .alias("mean_est_jaccard"),
              F.round(F.sum(F.col("jaccard").cast("decimal(18,6)"))
                      .cast("double") / F.count(F.lit(1)), 6)
              .alias("mean_exact_jaccard"))
         .select(F.round(F.col("bucket") * 0.1, 1).alias("bucket_lo"),
                 "n_pairs", "mean_est_jaccard", "mean_exact_jaccard"))
    return g.withColumn(
        "bias", F.round(F.col("mean_est_jaccard")
                        - F.col("mean_exact_jaccard"), 6))


def _oracle_minhash_calibration() -> str:
    match_expr = " + ".join(
        f"CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END"
        for j in range(neardup.NUM_PERM))
    return rf"""
WITH {_minhash_cand_cte()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM h GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.hv = x.hv
  GROUP BY c.id_a, c.id_b
),
exact AS (
  SELECT c.id_a AS doc_a, c.id_b AS doc_b,
         round(coalesce(i.n_inter, 0) * 1.0
               / (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes na ON na.doc_id = c.id_a
  JOIN sizes nb ON nb.doc_id = c.id_b
),
m AS (
  SELECT e.doc_a, e.doc_b, e.jaccard,
         ({match_expr}) AS n_match
  FROM exact e
  JOIN sig sa ON sa.doc_id = e.doc_a
  JOIN sig sb ON sb.doc_id = e.doc_b
),
g AS (
  SELECT round((floor(round(jaccard / 0.1, 9))::INT * 0.1)::DOUBLE, 1)
           AS bucket_lo,
         count(*)::BIGINT AS n_pairs,
         round(sum(n_match) / ({float(neardup.NUM_PERM)} * count(*)), 6)
           AS mean_est_jaccard,
         round((sum(jaccard::DECIMAL(18,6)))::DOUBLE / count(*), 6)
           AS mean_exact_jaccard
  FROM m GROUP BY floor(round(jaccard / 0.1, 9))
)
SELECT *, round(mean_est_jaccard - mean_exact_jaccard, 6) AS bias FROM g
"""


def q_docs_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-graph triangles (round 7): mutually-similar document
    triples via the ordered-wedge join over the shared verified-pair
    artifact — the clique-density diagnostic beside the degree
    histogram and PageRank (operators/neardup.py:triangle_list). The
    oracle recomputes the pair set from scratch and closes the wedges
    in SQL."""
    return neardup.triangle_list(
        _full_pairs(spark, sf_dir).select("doc_a", "doc_b"))


def _oracle_dup_triangles() -> str:
    return rf"""
WITH p AS ({_oracle_near_dup()})
SELECT e1.doc_a, e1.doc_b, e2.doc_b AS doc_c
FROM p e1
JOIN p e2 ON e2.doc_a = e1.doc_b
WHERE EXISTS (SELECT 1 FROM p e3
              WHERE e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
"""


def q_docs_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-similarity histogram for the TEXT dedup threshold — the
    shingle-side twin of ``emb_similarity_histogram``: verified
    near-dup pairs bucketed by Jaccard in 0.05 steps, the curve a
    curator reads to tighten NEARDUP_THRESHOLD. Reuses the shared pair
    artifact; integer bucket index = floor(round(j/0.05, 9)) with the
    engine-wide round-before-floor FP guard (0.65/0.05 =
    13.000000000000002 would floor to 13 either way, but 0.7/0.05 =
    13.999999999999998 would floor to 13 instead of 14 without it)."""
    pairs = _full_pairs(spark, sf_dir)
    bucket = F.floor(F.round(F.col("jaccard") / 0.05, 9)).cast("int")
    return (
        pairs.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.round(F.col("bucket") * 0.05, 2).alias("bucket_lo"),
                "n_pairs")
    )


def _oracle_jaccard_histogram() -> str:
    return rf"""
WITH p AS ({_oracle_near_dup()})
SELECT round((floor(round(jaccard / 0.05, 9))::INT * 0.05)::DOUBLE, 2)
         AS bucket_lo,
       count(*) AS n_pairs
FROM p GROUP BY floor(round(jaccard / 0.05, 9))
"""


CONTAIN_THRESHOLD = 0.8


def q_docs_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment join (round 7): ordered (a, b) pairs
    where ≥80% of a's shingles appear in b — the excerpt/quote/
    boilerplate-wrapper duplication symmetric Jaccard misses
    (operators/neardup.py:containment_prefix_pairs; A-side prefix
    pruning, integer threshold, exact)."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.containment_prefix_pairs(
        docs, n=SHINGLE_N, threshold=CONTAIN_THRESHOLD,
        prebuilt_shingles=_shingles(spark, sf_dir))


def _containment_tail(h: str, t: float) -> str:
    """Prefix-pruned containment-join CTE tail over a shingle table
    ``h`` — shared by the raw-corpus containment oracle and the
    composed scrub-then-contain pipeline (which runs it over the
    scrubbed corpus's shingles)."""
    return rf"""sz AS (SELECT doc_id, count(*) AS n_sh FROM {h} GROUP BY doc_id),
freq AS (SELECT hv, count(*) AS df FROM {h} GROUP BY hv),
ranked AS (
  SELECT {h}.doc_id, {h}.hv, sz.n_sh,
         row_number() OVER (PARTITION BY {h}.doc_id
                            ORDER BY f.df ASC, {h}.hv ASC) AS rk
  FROM {h} JOIN freq f USING (hv) JOIN sz USING (doc_id)
),
pref AS (SELECT doc_id, hv FROM ranked
         WHERE rk <= n_sh - ceil(round({t} * n_sh, 9)) + 1),
cand AS (
  SELECT DISTINCT p.doc_id AS id_a, b.doc_id AS id_b
  FROM pref p JOIN {h} b ON p.hv = b.hv AND p.doc_id <> b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN {h} ha ON ha.doc_id = c.id_a
  JOIN {h} hb ON hb.doc_id = c.id_b AND hb.hv = ha.hv
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       round(i.n_inter * 1.0 / na.n_sh, 6) AS containment
FROM inter i JOIN sz na ON na.doc_id = i.id_a
WHERE i.n_inter >= ceil(round({t} * na.n_sh, 9))"""


def _oracle_containment_pairs() -> str:
    return rf"""
WITH {_shingle_cte()},
{_containment_tail("h", CONTAIN_THRESHOLD)}
"""


def _scrubbed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hv) shingle table of the BOILERPLATE-SCRUBBED corpus,
    built once per (session, sf_dir) — the artifact the composed
    scrub-then-contain pipeline joins on. Scrubbing first is the
    documented mitigation for the containment join's unprunable b-side
    (operators/neardup.py:containment_prefix_pairs): the hot shingles
    that bloat the full inverted index are exactly what the scrub
    removes, so the index this artifact feeds is both smaller and
    skew-free."""
    def build():
        scrubbed = (
            neardup.scrub_hot_ngrams(load_table(spark, sf_dir, "documents"),
                                     HOT_MIN_DF, HOT_TOP, n=SHINGLE_N)
            .select("doc_id", F.col("clean_text").alias("text")))
        return materialize(neardup.shingle_hashes(
            scrubbed, "doc_id", "text", SHINGLE_N), "eager")
    return _memo(spark, ("scrubbed_shingles", sf_dir, SHINGLE_N, HOT_MIN_DF,
                         HOT_TOP), "documents", build)


def q_docs_scrubbed_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pipeline (round 8): C4-style boilerplate scrub FIRST,
    then the exact asymmetric containment join over the scrubbed
    corpus — the production ordering for excerpt detection. The raw
    corpus's hottest n-grams (headers/footers shared by half the
    corpus) are precisely the shingles the containment join's b-side
    index cannot prefix-prune; scrubbing deletes them from every
    document before shingling, so the join runs over a smaller,
    skew-free index while STILL catching the real quote/excerpt
    containments the boilerplate was masking. One shared shingle
    artifact (``_scrubbed_shingles``) feeds the join; the oracle
    chains the identical scrub CTEs into the identical containment
    tail."""
    return neardup.containment_prefix_pairs(
        load_table(spark, sf_dir, "documents"), n=SHINGLE_N,
        threshold=CONTAIN_THRESHOLD,
        prebuilt_shingles=_scrubbed_shingles(spark, sf_dir))


def _oracle_scrubbed_containment() -> str:
    return rf"""
WITH {_scrub_ctes()},
scrubbed AS (
  SELECT tok.doc_id, coalesce(r.clean_text, '') AS text
  FROM tok LEFT JOIN rebuilt r USING (doc_id)
),
{_shingle_cte("scrubbed", suffix="2")},
{_containment_tail("h2", CONTAIN_THRESHOLD)}
"""


SHUFFLE_EPOCH_SALT = "epoch-1"


def q_docs_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (round 8): every document's global
    position in a reproducible training-order permutation — order by
    the md5 48-bit hash of (doc_id, epoch salt), rank with the
    scale-safe ``global_row_number`` (range-bucketed parallel ranking,
    no single-partition sort). Changing the salt yields an independent
    permutation per epoch, which is exactly how large training runs
    implement multi-epoch shuffling without materializing a random
    ordering (the hash IS the shuffle, reproducible across retries and
    restarts — the property `ORDER BY rand()` cannot give)."""
    from ..operators import quantiles
    from ..operators.textops import base_hash48

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        base_hash48(F.concat_ws("|", F.col("doc_id"),
                                F.lit("shuffle"),
                                F.lit(SHUFFLE_EPOCH_SALT)))
        .alias("shuffle_key"))
    return quantiles.global_row_number(
        keyed, "shuffle_key", "doc_id", out_col="shuffle_pos")


ORACLE_SHUFFLE_ORDER = f"""
WITH keyed AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id || '|shuffle|{SHUFFLE_EPOCH_SALT}'),
                         1, 12))::BIGINT AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       row_number() OVER (ORDER BY shuffle_key, doc_id) AS shuffle_pos
FROM keyed
"""


def q_docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum ordering (round 7): every document's
    global position in a shortest-first training order plus its
    early/mid/late phase — the standard length-curriculum feed, built
    on the scale-safe primitives (operators/quantiles.py): ONE
    checkpoint + one boundary estimate feed both the exact global
    row_number and the exact ntile(3) phase, no single-partition sort
    anywhere. The doc_id tiebreak makes the order total, so the
    window-form oracle is bit-identical."""
    from ..operators import quantiles
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "n_chars")
    # ONE rank pass: the ntile phase derives row-locally from
    # (rank, n) via the same equal-height integer formula the window
    # ntile uses, so rank + phase cost a single _ranked traversal.
    ranked = quantiles.global_row_number(
        docs, "n_chars", "doc_id", out_col="curriculum_rank",
        total_col="__n")
    p = F.expr(
        "CASE WHEN curriculum_rank <= (__n % 3) * (__n div 3 + 1) "
        "THEN (curriculum_rank - 1) div (__n div 3 + 1) + 1 "
        "ELSE (__n % 3) + (curriculum_rank - (__n % 3) * (__n div 3 + 1)"
        " - 1) div greatest(__n div 3, 1) + 1 END")
    phase = (F.when(p == 1, "early")
             .when(p == 2, "mid").otherwise("late"))
    return ranked.select("doc_id", "n_chars", "curriculum_rank",
                         phase.alias("phase"))


ORACLE_CURRICULUM_ORDER = """
SELECT doc_id, n_chars,
       row_number() OVER w AS curriculum_rank,
       CASE ntile(3) OVER w WHEN 1 THEN 'early' WHEN 2 THEN 'mid'
            ELSE 'late' END AS phase
FROM documents
WINDOW w AS (ORDER BY n_chars, doc_id)
"""


def q_docs_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard set-similarity self-join (prefix filtering —
    AllPairs/PPJoin). Unlike the MinHash/LSH chain there is no recall
    loss: the result IS every pair at/above the threshold."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.jaccard_prefix_pairs(
        docs, n=SHINGLE_N, threshold=NEARDUP_THRESHOLD,
        prebuilt_shingles=_shingles(spark, sf_dir))


def _oracle_jaccard_join() -> str:
    t = NEARDUP_THRESHOLD
    return rf"""
WITH {_shingle_cte()},
sz AS (SELECT doc_id, count(*) AS n_sh FROM h GROUP BY doc_id),
freq AS (SELECT hv, count(*) AS df FROM h GROUP BY hv),
ranked AS (
  SELECT h.doc_id, h.hv, sz.n_sh,
         row_number() OVER (PARTITION BY h.doc_id
                            ORDER BY f.df ASC, h.hv ASC) AS rk
  FROM h JOIN freq f USING (hv) JOIN sz USING (doc_id)
),
pref AS (SELECT doc_id, hv FROM ranked
         WHERE rk <= n_sh - ceil(round({t} * n_sh, 9)) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.hv = b.hv AND a.doc_id < b.doc_id
),
{_verify_jaccard_sql(t)}
"""


def q_docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing) fingerprints — per-doc count plus the
    minimum fingerprint as a verifiable digest of the set (the full
    (doc_id, fingerprint) relation is large; the oracle checks the set
    via count + extremum per document)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = neardup.winnow_fingerprints(docs)
    return (fp.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_fingerprints"),
                 F.min("fingerprint").alias("min_fingerprint"),
                 F.max("fingerprint").alias("max_fingerprint")))


def _oracle_winnow() -> str:
    k, w = neardup.WINNOW_K, neardup.WINNOW_W
    hv = _DUCK_HASH48.format(c=f"substring(text, pos, {k})")
    return rf"""
WITH pos AS (
  SELECT doc_id, text,
         unnest(range(1, length(text) - {k} + 2)) AS pos
  FROM documents WHERE length(text) >= {k}
),
h AS (SELECT doc_id, pos, {hv} AS hv FROM pos),
wm AS (
  SELECT doc_id, pos,
         min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wm,
         max(pos) OVER (PARTITION BY doc_id) AS max_pos
  FROM h
),
fp AS (
  SELECT DISTINCT doc_id, wm AS fingerprint
  FROM wm WHERE pos <= max_pos - {w} + 1
)
SELECT doc_id, count(*) AS n_fingerprints,
       min(fingerprint) AS min_fingerprint,
       max(fingerprint) AS max_fingerprint
FROM fp GROUP BY doc_id
"""


CHUNK_SIZE, CHUNK_STRIDE = 40, 32  # 8-token overlap


def q_docs_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training-data prep: overlapping
    ``CHUNK_SIZE``-token windows every ``CHUNK_STRIDE`` tokens, one row
    per chunk with a stable (doc_id, chunk_id) key and the chunk's own
    token count. Pure explode fan-out — no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    return (
        docs.select("doc_id", F.posexplode(
            chunk_tokens(tok, CHUNK_SIZE, CHUNK_STRIDE)).alias("chunk_id", "chunk"))
        .select("doc_id", F.col("chunk_id").cast("int").alias("chunk_id"),
                "chunk",
                F.size(F.split(F.col("chunk"), " ")).alias("chunk_tokens"))
    )


ORACLE_DOCS_CHUNKED = rf"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tok FROM documents),
starts AS (
  SELECT doc_id, tok,
         unnest(range(0, greatest(len(tok) - {CHUNK_SIZE - CHUNK_STRIDE}, 1),
                      {CHUNK_STRIDE})) AS start
  FROM t
),
chunks AS (
  SELECT doc_id, (start / {CHUNK_STRIDE})::INT AS chunk_id,
         array_to_string(tok[start + 1 : start + {CHUNK_SIZE}], ' ') AS chunk
  FROM starts
)
SELECT doc_id, chunk_id, chunk,
       len(string_split(chunk, ' '))::INT AS chunk_tokens
FROM chunks
"""


def q_docs_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus rollup — the summary table a data-prep
    run reports: document and token volume, mean length."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    return (
        docs.groupBy("lang", "source")
        # float note: avg over INTEGER n_chars is order-safe — both
        # engines accumulate an exact sum (< 2^53) and perform one
        # correctly-rounded IEEE division, so the double entering round()
        # is bit-identical. Residual exposure is only a value whose
        # shortest decimal repr is an exact 4-dp midpoint (Spark rounds
        # the repr, DuckDB the binary) — accepted and documented.
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(n_tok).alias("total_tokens"),
             F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    )


ORACLE_CORPUS_STATS = rf"""
SELECT lang, source,
       count(*) AS n_docs,
       sum(len({_DUCK_TOKENS}))::BIGINT AS total_tokens,
       round(avg(n_chars), 4) AS avg_chars
FROM documents
GROUP BY 1, 2
"""
# ::BIGINT above matters — DuckDB types sum(BIGINT) as HUGEINT (int128), which
# value-hashes differently from Spark's bigint even when every value matches
# (verified group-by-group in round 2; see VERDICT.md "What's wrong #1").


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


def _bf_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-``KNN_K`` cosine ground truth for the fixed
    query set, built once per (session, sf_dir) — the artifact every
    recall@k evaluation joins against (r15: the four recall queries
    each re-ran the identical brute-force pass; a production recall
    monitor materializes the truth set once and reuses it across tier
    evals). Carries ``rank``, so lower-k consumers slice EXACTLY:
    top-5 == rank <= 5 under the same (cos desc, neighbor_id) order."""
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
        return materialize(similarity.knn_bruteforce(
            emb, queries, KNN_K), "eager")
    return _memo(spark, ("bf_truth", sf_dir, KNN_QUERY_MAX_ID, KNN_K),
                 "embeddings", build)


def q_emb_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bf_truth(spark, sf_dir)


_DUCK_COS = ("list_dot_product(qv, cv) / "
             "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))")

ORACLE_KNN = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_DUCK_COS} AS cos_raw
  FROM q, c WHERE neighbor_id != query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos_sim, rank::INT AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


def q_emb_knn_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy brute-force kNN — the throughput path for large
    corpora. Rows-only checked by the driver (numpy's sum order makes
    last-ulp ties engine-specific); pytest asserts agreement with the
    oracle-checked built-in variant."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_bruteforce_vectorized(emb, queries, KNN_K)


def q_emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < IVF_CENTROID_MAX_ID)
                 .select(F.col("vec_id").alias("centroid_id"), "embedding"))
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_ivf(emb, queries, centroids, IVF_K)


def q_emb_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`emb_ann_ivf` served from the PERSISTED CDC-maintained index
    (operators/annindex.py) instead of assigning at query time: the
    index table is bootstrapped from a v0 snapshot holding ~80% of the
    corpus, the rest arrives as a CDC-folded append, and the query
    reads the maintained assign frame — so the oracle row proves
    bootstrap + fold + serve end to end against the SAME SQL that
    checks the in-memory form. Built once per machine
    (:func:`artifacts.built_dir`; bench warms it explicitly)."""
    from ..operators import annindex
    from ..operators.txlog import TxTable

    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")

    def build(out: str) -> None:
        cut = int(emb.count() * 0.8)
        centroids = (emb.filter(F.col("vec_id") < IVF_CENTROID_MAX_ID)
                     .select(F.col("vec_id").alias("centroid_id"),
                             "embedding"))
        t = TxTable.create(spark,
                           emb.filter(F.col("vec_id") < cut).coalesce(2),
                           os.path.join(out, "emb"), stat_cols=["vec_id"])
        t.append(emb.filter(F.col("vec_id") >= cut).coalesce(1))
        annindex.stream_cdc_ann_maintenance(
            spark, t.path, os.path.join(out, "ck"),
            os.path.join(out, "ann"), centroids=centroids)

    base = artifacts.built_dir(
        "ann", [table_path(sf_dir, "embeddings")], build)
    st = TxTable(spark, os.path.join(base, "ann"))
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return annindex.knn_ivf_from_index(st, queries, IVF_K)


ORACLE_ANN_IVF = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cent_v
              FROM embeddings WHERE vec_id < {IVF_CENTROID_MAX_ID}),
allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored_assign AS (
  SELECT a.vec_id, a.v, c.centroid_id,
         list_dot_product(a.v, c.cent_v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(c.cent_v, c.cent_v))) AS cs
  FROM allv a, cent c
),
assigned AS (
  SELECT vec_id, v, centroid_id AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, centroid_id) AS rn
        FROM scored_assign)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket
      FROM assigned WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM assigned),
scored AS (
  SELECT q.query_id, c.neighbor_id, q.bucket,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cos_raw
  FROM c JOIN q USING (bucket)
  WHERE c.neighbor_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, bucket, round(cos_raw, 6) AS cos_sim,
       rank::INT AS rank
FROM ranked WHERE rank <= {IVF_K}
"""


IVF_NPROBE = 2


def q_emb_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF search (nprobe=2): the query probes its TWO
    nearest coarse buckets instead of one — the standard recall knob
    every IVF deployment turns before touching the index (FAISS
    nprobe). Storage assignment is untouched; the probe side of the
    bucket-keyed hash join doubles (2/n_buckets of the corpus), and
    recall per query can only rise: candidates are a superset of the
    one-probe set, and every brute-force-truth neighbor outscores
    every non-truth neighbor, so widening candidates never evicts a
    hit (pytest pins multiprobe recall >= one-probe recall per
    query)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < IVF_CENTROID_MAX_ID)
                 .select(F.col("vec_id").alias("centroid_id"), "embedding"))
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_ivf(emb, queries, centroids, IVF_K,
                              nprobe=IVF_NPROBE)


ORACLE_ANN_IVF_MULTIPROBE = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cent_v
              FROM embeddings WHERE vec_id < {IVF_CENTROID_MAX_ID}),
allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored_assign AS (
  SELECT a.vec_id, a.v, c.centroid_id,
         list_dot_product(a.v, c.cent_v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(c.cent_v, c.cent_v))) AS cs
  FROM allv a, cent c
),
ranked_assign AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cs DESC, centroid_id) AS rn
  FROM scored_assign
),
assigned AS (
  SELECT vec_id, v, centroid_id AS bucket FROM ranked_assign WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv, centroid_id AS bucket
      FROM ranked_assign
      WHERE vec_id < {KNN_QUERY_MAX_ID} AND rn <= {IVF_NPROBE}),
c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM assigned),
scored AS (
  SELECT q.query_id, c.neighbor_id, q.bucket,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cos_raw
  FROM c JOIN q USING (bucket)
  WHERE c.neighbor_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, bucket, round(cos_raw, 6) AS cos_sim,
       rank::INT AS rank
FROM ranked WHERE rank <= {IVF_K}
"""


def q_docs_near_dup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy verification of LSH candidates via Levenshtein: edit
    distance runs ONLY on the candidate pairs (the small LSH tail), never
    all-pairs — O(len²) per pair is affordable exactly because the
    candidate set is bounded. Outputs a length-normalized similarity."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = neardup.minhash_signatures(docs, n=SHINGLE_N)
    cand = neardup.lsh_candidate_pairs(sigs)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    dist = F.levenshtein("text_a", "text_b")
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
                dist.alias("edit_distance"),
                F.round(1 - dist / max_len, 6).alias("edit_similarity"))
    )


def _oracle_edit_distance() -> str:
    return rf"""
WITH {_minhash_cand_cte()}
SELECT c.id_a AS doc_a, c.id_b AS doc_b,
       levenshtein(a.text, b.text) AS edit_distance,
       round(1 - levenshtein(a.text, b.text) * 1.0
             / greatest(length(a.text), length(b.text)), 6) AS edit_similarity
FROM cand c
JOIN documents a ON a.doc_id = c.id_a
JOIN documents b ON b.doc_id = c.id_b
"""


TFIDF_TOP_K = 3


def q_docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf top-k terms per document: term frequency (one grouped
    count), document frequency (distinct-doc count per term), idf =
    ln(N/df), top-k by score per doc. Two shuffles (tf, df) + one window
    on doc_id — textbook distributed tf-idf, no UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar: one number, computed once
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, "term")
        .withColumn("tfidf",
                    F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6))
    )
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


def _oracle_tfidf() -> str:
    return rf"""
WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term), n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tfidf, rk::INT AS rk FROM ranked WHERE rk <= {TFIDF_TOP_K}
"""


# Lloyd iterations for the trained coarse quantizer. This is the bench
# default and the dominant cost knob of `emb_ann_ivf_trained` (each
# iteration is one assign-shuffle + one mean-agg over the corpus, ~1 s at
# sf0.1 local[32]); quality plateaus fast on this data — raise it per
# deployment if centroid drift warrants.
IVF_TRAIN_ITERS = 2


def _trained_centroids(spark: SparkSession, sf_dir: str,
                       iters: int = IVF_TRAIN_ITERS) -> DataFrame:
    """Trained coarse-quantizer centroids, shared by every consumer
    (ANN, cosine near-dup, semantic dedup) — exactly how a production
    pipeline treats a trained quantizer: an artifact written once at
    training time, broadcast to every serving query, never retrained
    per query. Training is deterministic (seeded on lowest-id vectors,
    order-free decimal means); the tiny collected rows (k × dim
    doubles) also free the training job's localCheckpoint blocks from
    the block manager instead of re-accumulating them per query."""
    def build():
        trained = similarity.train_ivf_centroids(
            load_table(spark, sf_dir, "embeddings"),
            k=IVF_CENTROID_MAX_ID, iters=iters)
        return [(int(r["centroid_id"]), [float(x) for x in r["embedding"]])
                for r in trained.collect()]
    rows = _memo(spark, ("centroids", sf_dir, IVF_CENTROID_MAX_ID, iters),
                 "embeddings", build)
    return spark.createDataFrame(
        rows, "centroid_id int, embedding array<double>")


def q_emb_ann_ivf_trained(spark: SparkSession, sf_dir: str,
                          iters: int = IVF_TRAIN_ITERS) -> DataFrame:
    """ANN over a *trained* coarse quantizer (``iters`` Lloyd iterations
    of spherical k-means, pure DataFrame ops). Oracle-checked since
    round 5: the training means are order-free decimal sums rounded to
    6 dp, so the FIXED iteration count unrolls into plain SQL CTEs
    (one assign + mean + carry-forward round per iteration) — the
    general unbounded-iteration form stays SQL-inexpressible, but the
    bench configuration is fully hash-verified. Determinism, cohesion
    improvement, and iteration-count monotonicity remain pytest-covered.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir, iters)
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_ivf(emb, queries, centroids, IVF_K)


def _duck_cos(a: str, b: str) -> str:
    return (f"list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))")


def _lloyd_assign_ctes(k: int, dim: int, iters: int) -> list[str]:
    """The fixed-count Lloyd loop unrolled as SQL CTEs — byte-parity
    with ``train_ivf_centroids`` + ``ivf_assign``: seeds are the k
    lowest-id vectors re-keyed 0..k-1; each round assigns by max cosine
    (ties to the lowest centroid id), means are decimal(25,12) sums /
    count rounded to 6, and empty buckets carry the previous centroid.
    The returned chain ends at ``a{iters}`` — (vec_id, v, bucket), the
    serve-time assignment of every vector to its trained bucket —
    shared by every trained-quantizer oracle (ANN and near-dup)."""
    ctes = [
        "allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""cent0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM allv QUALIFY row_number() OVER (ORDER BY vec_id) <= {k})""",
    ]
    for i in range(iters + 1):
        ctes.append(f"""s{i} AS (
  SELECT a.vec_id, a.v, c.cid, {_duck_cos('a.v', 'c.cv')} AS cs
  FROM allv a, cent{i} c)""")
        ctes.append(f"""a{i} AS (
  SELECT vec_id, v, cid AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, cid) AS rn
        FROM s{i})
  WHERE rn = 1)""")
        if i == iters:
            break  # a{iters} is the serve-time assignment
        ctes.append(f"""m{i} AS (
  SELECT bucket, t.j AS pos,
         round((sum(v[t.j + 1]::DECIMAL(25,12)))::DOUBLE / count(*), 6) AS m
  FROM a{i} CROSS JOIN range(0, {dim}) t(j)
  GROUP BY 1, 2)""")
        ctes.append(f"""nc{i} AS (
  SELECT bucket AS cid, list(m ORDER BY pos) AS cv FROM m{i}
  GROUP BY bucket)""")
        ctes.append(f"""cent{i + 1} AS (
  SELECT p.cid, coalesce(n.cv, p.cv) AS cv
  FROM cent{i} p LEFT JOIN nc{i} n USING (cid))""")
    return ctes


def _oracle_ann_ivf_trained() -> str:
    """Trained-quantizer ANN oracle on the shared Lloyd CTE chain
    (see :func:`_lloyd_assign_ctes`)."""
    k, dim, iters = IVF_CENTROID_MAX_ID, EMB_DIM, IVF_TRAIN_ITERS
    cos = _duck_cos
    body = ",\n".join(_lloyd_assign_ctes(k, dim, iters))
    return rf"""
WITH {body},
q AS (SELECT vec_id AS query_id, v AS qv, bucket
      FROM a{iters} WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, v AS cv2, bucket FROM a{iters}),
scored AS (
  SELECT q.query_id, c.neighbor_id, q.bucket,
         {cos('qv', 'cv2')} AS cos_raw
  FROM c JOIN q USING (bucket)
  WHERE c.neighbor_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, bucket, round(cos_raw, 6) AS cos_sim,
       rank::INT AS rank
FROM ranked WHERE rank <= {IVF_K}
"""


LSH_K = 5


def q_emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH buckets (the alternative coarse
    quantizer to IVF) — hyperplanes md5-derived, so the oracle rebuilds
    the identical bucketing in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_lsh(emb, queries, LSH_K, dim=EMB_DIM)


def _oracle_ann_lsh() -> str:
    # Mirrors lsh_assign's order-stable form: per plane j, the dot is
    # list_dot_product(v, weights_j) — a sequential fold, bit-identical to
    # Spark's aggregate(zip_with(...)) — with weights_j rebuilt from the
    # same md5 derivation (no shipped constants). Summing per (vec, plane)
    # groups instead would leave the float accumulation order to the
    # engine, and a dot near zero could flip its sign bit between engines.
    n_planes = similarity.LSH_PLANES
    wlist = ("list_transform(range(0, len(v)), d -> "
             "(('0x' || substr(md5('hp|' || {j} || '|' || d), 1, 12))::BIGINT"
             f" / {float(2 ** 48)} - 0.5))")
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {wlist.format(j=j)}) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes))
    return f"""
WITH assigned AS (
  SELECT vec_id, v, ({bucket})::INT AS bucket
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket
      FROM assigned WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM assigned),
scored AS (
  SELECT q.query_id, c.neighbor_id, q.bucket,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cos_raw
  FROM c JOIN q USING (bucket)
  WHERE c.neighbor_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, bucket, round(cos_raw, 6) AS cos_sim,
       rank::INT AS rank
FROM ranked WHERE rank <= {LSH_K}
"""


COSINE_DUP_THRESHOLD = 0.4

def _cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-bucket cosine pair-score table (raw cosines retained),
    built once per (session, sf_dir) over the trained quantizer and
    shared by the near-dup cut, semantic dedup, and the calibration
    histogram — the embedding-side analog of the `_full_pairs`
    artifact. Thresholds apply to cos_raw downstream, so every consumer
    keeps its exact oracle semantics."""
    return _memo(
        spark, ("cos_pairs", sf_dir, IVF_TRAIN_ITERS, IVF_CENTROID_MAX_ID),
        "embeddings",
        lambda: materialize(similarity.cosine_pair_scores(
            load_table(spark, sf_dir, "embeddings"),
            _trained_centroids(spark, sf_dir)), "eager"))


def q_emb_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, IVF-bucketed (never all-pairs).

    Round 6: buckets come from the TRAINED coarse quantizer (the same
    ``train_ivf_centroids`` Lloyd loop as ``emb_ann_ivf_trained``)
    instead of the first-``k``-vectors shortcut — trained centroids give
    materially better bucket balance at scale, which is what bounds the
    per-bucket pair join. Oracle parity holds because the fixed
    iteration count unrolls into the shared Lloyd CTE chain. Consumes
    the shared ``_cosine_pairs`` score artifact."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir)
    return similarity.cosine_near_dup_pairs(
        emb, centroids, COSINE_DUP_THRESHOLD,
        pair_scores=_cosine_pairs(spark, sf_dir))


def _oracle_cosine_near_dup() -> str:
    iters = IVF_TRAIN_ITERS
    body = ",\n".join(
        _lloyd_assign_ctes(IVF_CENTROID_MAX_ID, EMB_DIM, iters))
    return f"""
WITH {body},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
         {_duck_cos('a.v', 'b.v')} AS cos_raw
  FROM a{iters} a JOIN a{iters} b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, bucket, round(cos_raw, 6) AS cos_sim
FROM pairs WHERE cos_raw >= {COSINE_DUP_THRESHOLD}
"""


ORACLE_COSINE_NEAR_DUP = _oracle_cosine_near_dup()


SIM_HIST_BIN = 10  # 0.1-wide cosine bins


def q_emb_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration curve for the cosine dedup family: the
    distribution of pair similarities over ALL co-bucket pairs (no
    threshold) in 0.1-wide bins — the plot you read before picking
    `COSINE_DUP_THRESHOLD` (a bimodal histogram's valley is the
    defensible cut; a unimodal one says the corpus has no duplicate
    mode at all). Same trained-quantizer pair join as the near-dup
    query, so cost and recall caveats are identical; the histogram adds
    one map-side-combinable (bin) aggregate. Binning happens on the
    6-dp-ROUNDED similarity on both engines so no bin edge can flip.
    Consumes the shared ``_cosine_pairs`` score artifact."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir)
    pairs = similarity.cosine_near_dup_pairs(
        emb, centroids, threshold=-1.0,
        pair_scores=_cosine_pairs(spark, sf_dir))
    bin_ = F.least(F.floor(F.col("cos_sim") * SIM_HIST_BIN),
                   F.lit(SIM_HIST_BIN - 1)).cast("int")
    return (
        pairs.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select("bin",
                F.round(F.col("bin") / float(SIM_HIST_BIN), 1).alias("lo"),
                F.round((F.col("bin") + 1) / float(SIM_HIST_BIN), 1)
                .alias("hi"),
                "n_pairs")
    )


def _oracle_similarity_histogram() -> str:
    iters = IVF_TRAIN_ITERS
    body = ",\n".join(
        _lloyd_assign_ctes(IVF_CENTROID_MAX_ID, EMB_DIM, iters))
    return f"""
WITH {body},
pairs AS (
  SELECT round({_duck_cos('a.v', 'b.v')}, 6) AS cos_sim
  FROM a{iters} a JOIN a{iters} b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
b AS (SELECT least(floor(cos_sim * {SIM_HIST_BIN}),
                   {SIM_HIST_BIN - 1})::INT AS bin FROM pairs)
SELECT bin, round(bin / {float(SIM_HIST_BIN)}, 1) AS lo,
       round((bin + 1) / {float(SIM_HIST_BIN)}, 1) AS hi,
       count(*) AS n_pairs
FROM b GROUP BY bin
"""


def _full_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) over the full corpus's
    near-dup graph, built once per (session, sf_dir) — the iterative
    connected-components run is the single most expensive step of the
    dedup family, so every consumer (the cluster query, the kept
    corpus, the training-mix pipeline's vertex-deletion recompute)
    reads this artifact instead of re-looping."""
    return _memo(
        spark, ("full_clusters", sf_dir, SHINGLE_N, NEARDUP_THRESHOLD),
        "documents",
        lambda: materialize(neardup.dup_clusters(
            _full_pairs(spark, sf_dir)), "eager"))


def q_docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster canonicalization — near-dup PAIRS collapsed into
    connected components with a deterministic min-doc-id keeper per
    cluster (the last step of a real dedup pipeline; the reference's
    single-table analog is the latest-record-wins window,
    fact_weather_params_history.sql:17-32). Oracle: DuckDB recursive CTE
    computes the transitive closure over the same verified pair set
    (the shared ``_full_pairs`` artifact)."""
    return _full_clusters(spark, sf_dir)


def q_docs_dup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the duplicate graph — the diagnostic read
    BEFORE running components/PageRank at scale (a heavy tail says
    template hubs exist and the per-key bound needs skew handling; a
    flat one says plain propagation is safe). Consumes the shared
    ``_full_pairs`` artifact: one symmetric projection, one degree
    aggregate, one histogram aggregate — all map-side-combinable, the
    corpus itself untouched."""
    pairs = _full_pairs(spark, sf_dir)
    edges = (pairs.select(F.col("doc_a").alias("u"))
             .unionByName(pairs.select(F.col("doc_b").alias("u"))))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _oracle_dup_degree_histogram() -> str:
    return rf"""
WITH pairs AS ({_oracle_near_dup()}),
edges AS (SELECT doc_a AS u FROM pairs UNION ALL SELECT doc_b FROM pairs),
deg AS (SELECT u, count(*)::BIGINT AS degree FROM edges GROUP BY 1)
SELECT degree, count(*)::BIGINT AS n_docs
FROM deg GROUP BY 1
"""


KCORE_K, KCORE_ROUNDS = 2, 4


def q_docs_dup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the dup graph (round 8): iteratively peel vertices of
    degree < 2 for a fixed number of synchronous rounds — what
    survives are the mutually-duplicated template FAMILIES, with
    similarity chains and tree fringes peeled away (the diagnostic
    between the degree histogram's raw tail and the triangle query's
    strict cliques). Consumes the shared ``_full_pairs`` artifact;
    fixed rounds unroll into the oracle like PageRank, and
    tests/test_llm_operators.py witnesses convergence at the default
    (operators/neardup.py:kcore)."""
    return neardup.kcore(_full_pairs(spark, sf_dir).select("doc_a", "doc_b"),
                         k=KCORE_K, rounds=KCORE_ROUNDS)


def _oracle_dup_kcore() -> str:
    # AS MATERIALIZED on every chained CTE: without it DuckDB inlines
    # each e{r}/k{r} reference and the plan tree grows exponentially in
    # KCORE_ROUNDS (the near-dup pair subquery would be re-evaluated
    # 3^rounds times — observed as a multi-minute hang at sf0.01).
    ctes = [
        "e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs)"]
    for r in range(KCORE_ROUNDS):
        ctes.append(
            f"k{r} AS MATERIALIZED (SELECT u FROM e{r} GROUP BY u "
            f"HAVING count(*) >= {KCORE_K})")
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{r} e "
            f"JOIN k{r} a ON e.u = a.u JOIN k{r} b ON e.v = b.u)")
    body = ",\n".join(ctes)
    return rf"""
WITH pairs AS MATERIALIZED ({_oracle_near_dup()}),
{body}
SELECT u AS doc_id, count(*)::BIGINT AS core_degree
FROM e{KCORE_ROUNDS} GROUP BY 1
"""


PR_ITERS = 3


def q_docs_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup graph — ranks duplicate-
    cluster members by connectedness (canonical-pick signal; template
    hubs surface with top scores). Fixed-step iteration with exact
    decimal neighbor sums, so the loop unrolls into the DuckDB oracle
    like the Lloyd/power-iteration unrolls
    (operators/neardup.py:pagerank). Consumes the shared ``_full_pairs``
    artifact."""
    return neardup.pagerank(_full_pairs(spark, sf_dir), iters=PR_ITERS)


def _oracle_pagerank() -> str:
    from ..operators.neardup import PAGERANK_D

    d = PAGERANK_D
    parts = [f"""
WITH pairs AS ({_oracle_near_dup()}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT u, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
nn AS (SELECT count(*)::BIGINT AS cnt FROM deg),
pr0 AS (SELECT u AS node, 1.0 / cnt AS pr FROM deg, nn)"""]
    for k in range(1, PR_ITERS + 1):
        parts.append(f""",
s{k} AS (SELECT e.v AS node,
              round((sum((p.pr / dg.deg)::DECIMAL(38,18)))::DOUBLE, 12) AS s
         FROM edges e
         JOIN pr{k - 1} p ON e.u = p.node
         JOIN deg dg ON dg.u = e.u
         GROUP BY e.v),
pr{k} AS (SELECT node, (1 - {d!r}) / cnt + {d!r} * s AS pr FROM s{k}, nn)""")
    parts.append(f"""
SELECT p.node AS doc_id, dg.deg AS degree, round(p.pr, 6) AS pagerank
FROM pr{PR_ITERS} p JOIN deg dg ON dg.u = p.node""")
    return "".join(parts)


def _prior_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prior corpus-only near-dup labels (the previous ingest's written
    label table in production). Tiny by construction — one row per
    document that sits in a near-dup cluster."""
    def build():
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
        prev = neardup.dup_clusters(
            neardup.near_dup_pairs(corpus, n=SHINGLE_N,
                                   threshold=NEARDUP_THRESHOLD))
        return [(int(r["doc_id"]), int(r["cluster_id"]),
                 bool(r["is_canonical"])) for r in prev.collect()]
    rows = _memo(spark, ("prior_labels", sf_dir, SHINGLE_N,
                         NEARDUP_THRESHOLD, INCR_BATCH_MOD),
                 "documents", build)
    return spark.createDataFrame(
        rows, "doc_id long, cluster_id long, is_canonical boolean")


def _incr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The increment's verified pair set, discovered ONCE per (session,
    sf_dir) and shared by BOTH incremental queries — in production the
    daily ingest writes these pairs before label maintenance folds them
    in, so discovery and maintenance never re-run the banded pipeline
    against the corpus index twice."""
    def build():
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
        batch = docs.filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
        return materialize(neardup.near_dup_pairs_incremental(
            corpus, batch, n=SHINGLE_N,
            threshold=NEARDUP_THRESHOLD), "eager")
    return _memo(spark, ("incr_pairs", sf_dir, SHINGLE_N, NEARDUP_THRESHOLD,
                         INCR_BATCH_MOD), "documents", build)


def q_docs_dup_clusters_incremental(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Incremental CLUSTER MAINTENANCE — the step after
    ``docs_near_dup_incremental``: prior labels (built from corpus-only
    pairs) absorb the batch-touching pairs; only touched clusters
    re-enter component finding, untouched labels pass through without a
    shuffle (operators/neardup.py:dup_clusters_incremental). The oracle
    is the FULL-corpus batch recompute (`_oracle_dup_clusters`) —
    hash-matching it proves the incremental path is lossless, i.e.
    per-ingest work ∝ increment with zero drift from the batch truth.

    The PRIOR label table is a materialized artifact in production (the
    previous ingest wrote it); `_prior_labels` models that as a
    registry artifact — built once per (session, sf_dir), rebuilt
    from its (tiny: one row per duplicate-cluster member) collected rows
    for every consumer. Without it the maintenance step's three
    references to `prev` each re-ran the full batch clustering
    (measured 16.6 s → ~3 s at sf0.1)."""
    prev = _prior_labels(spark, sf_dir)
    # The increment's pairs are the OTHER materialized input of the
    # maintenance step (a real ingest writes them before folding them
    # in); the shared checkpointed artifact models that and stops the
    # maintenance step from re-running the banded discovery pipeline
    # `docs_near_dup_incremental` already ran this session.
    return neardup.dup_clusters_incremental(prev, _incr_pairs(spark, sf_dir))


def _oracle_dup_clusters(src: str = "documents") -> str:
    # The pair set is the (already hash-green) near-dup oracle, embedded
    # as a nested-WITH CTE; reachability via a recursive UNION (dedup)
    # CTE, then cluster id = min reachable vertex (every vertex in a
    # >=2-component reaches itself through any neighbor, so min(v)
    # already includes u; least() keeps the expression total anyway).
    return rf"""
WITH RECURSIVE pairs AS ({_oracle_near_dup(src)}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
)
SELECT u AS doc_id, least(u, min(v)) AS cluster_id,
       u = least(u, min(v)) AS is_canonical
FROM reach GROUP BY u
"""


# Training-mix rates: per-(lang, source) keep rates for the deterministic
# stratified sample; strata not listed fall back to the default. The salt
# names the draw — same salt reproduces the identical sample anywhere.
SAMPLE_RATES: dict[tuple[str, str], float] = {
    ("en", "src0"): 1.0,
    ("en", "src1"): 0.5,
    ("de", "src0"): 0.25,
    ("fr", "src1"): 0.75,
    ("zh", "src0"): 0.8,
}
SAMPLE_DEFAULT_RATE = 0.2
SAMPLE_SALT = "mix0"


def q_docs_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-mix construction:
    keep ⇔ md5-derived hash bucket of (doc_id, salt) under the stratum's
    threshold — exactly reproducible on both engines, unlike sampleBy
    (whose draw shifts with partitioning). Row-local decision; the rate
    map is a broadcast dim."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, SAMPLE_RATES, key_cols=("lang", "source"),
        id_col="doc_id", salt=SAMPLE_SALT,
        default_rate=SAMPLE_DEFAULT_RATE)


def _oracle_sampled() -> str:
    from ..operators.sampling import SAMPLE_BUCKETS
    whens = "\n         ".join(
        f"WHEN lang = '{lang}' AND source = '{src}' "
        f"THEN {int(round(rate * SAMPLE_BUCKETS))}"
        for (lang, src), rate in SAMPLE_RATES.items())
    default_thr = int(round(SAMPLE_DEFAULT_RATE * SAMPLE_BUCKETS))
    return rf"""
SELECT doc_id, text, lang, source, n_chars
FROM documents
WHERE ('0x' || substr(md5(doc_id || '|{SAMPLE_SALT}'), 1, 12))::BIGINT
      % {SAMPLE_BUCKETS}
    < CASE {whens}
         ELSE {default_thr} END
"""


def q_docs_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept corpus after dedup — canonical docs survive, their
    near-dup cluster-mates are dropped, never-paired docs pass through.
    The end-to-end deliverable of the dedup family (pairs → clusters →
    keep-one), composed over the shared ``_full_pairs`` artifact."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.keep_canonical(docs, _full_clusters(spark, sf_dir))


def _oracle_dedup_keep() -> str:
    # non-canonical = cluster members whose id isn't the component min;
    # the cluster CTE is the (hash-green) dup-clusters oracle nested once
    return rf"""
WITH clust AS ({_oracle_dup_clusters()})
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM clust WHERE NOT is_canonical)
"""


def _gopher_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher repetition/quality metrics, built once per
    (session, sf_dir) — shared by the standalone quality query and the
    composed training-mix pipeline (whose quality gate is exactly a
    filter over these rows); in production this is the doc-stats table
    every downstream curation job reads."""
    return _memo(spark, ("gopher_stats", sf_dir), "documents",
                 lambda: materialize(repetition_stats(
                     load_table(spark, sf_dir, "documents")), "eager"))


def q_docs_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality metrics (type-token ratio, top
    unigram/bigram fractions, mean token length) — the cheap filters a
    training pipeline runs before anything expensive touches a doc."""
    return _gopher_stats(spark, sf_dir)


def q_docs_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 character-level repetition signals — top-n-gram char
    fraction (n=3,4) and duplicated-n-gram char fraction (n=5,10) — as a
    ZERO-shuffle pure projection: per-order sorted-gram run-length scans
    inside one F.aggregate each (operators/textops.py:
    repetition_signals). Where docs_quality_gopher shuffles gram counts
    on doc_id, this stays row-local end-to-end — the shape a quality
    gate must have before it can run ahead of everything else at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.repetition_signals(docs)


def _oracle_repetition_signals() -> str:
    from ..operators.textops import REP_DUP_NS, REP_TOP_NS

    ctes, sel, joins = [], [], []
    for n in (*REP_TOP_NS, *REP_DUP_NS):
        parts = " || ' ' || ".join(f"w[i + {k}]" for k in range(n))
        ctes.append(f"""g{n} AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - {n - 2}),
                               i -> {parts})) AS g
  FROM warr),
c{n} AS (SELECT doc_id, g, count(*) AS c FROM g{n} GROUP BY 1, 2)""")
    for n in REP_TOP_NS:
        ctes.append(f"""t{n} AS (
  SELECT doc_id, c * len(g) AS chars{n}
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY c DESC, g ASC) AS rn
        FROM c{n})
  WHERE rn = 1)""")
        sel.append(f"coalesce(round(chars{n} / nullif(denom, 0), 6), 0.0)"
                   f" AS top_{n}gram_char_frac")
        joins.append(f"LEFT JOIN t{n} USING (doc_id)")
    for n in REP_DUP_NS:
        ctes.append(f"""d{n} AS (
  SELECT doc_id,
         sum(CASE WHEN c >= 2 THEN c * len(g) ELSE 0 END) AS dchars{n}
  FROM c{n} GROUP BY 1)""")
        sel.append(f"coalesce(round(dchars{n} / nullif(denom, 0), 6), 0.0)"
                   f" AS dup_{n}gram_char_frac")
        joins.append(f"LEFT JOIN d{n} USING (doc_id)")
    body = ",\n".join(ctes)
    return rf"""
WITH warr AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents),
base AS (SELECT doc_id,
                len(array_to_string(w, ' '))::BIGINT AS denom
         FROM warr),
{body}
SELECT doc_id, denom AS n_chars_norm,
       {", ".join(sel)}
FROM base {" ".join(joins)}
"""


ORACLE_QUALITY_GOPHER = """
WITH tok AS (SELECT doc_id, unnest({toks}) AS t FROM {src}),
uni AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
u AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_distinct,
             max(c) AS top_uni, sum(len(t) * c)::BIGINT AS chars
      FROM uni GROUP BY 1),
warr AS (SELECT doc_id, {toks} AS w FROM {src}),
bg0 AS (SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS g
        FROM warr),
bg AS (SELECT doc_id, g, count(*) AS c FROM bg0 GROUP BY 1, 2),
b AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS top_big
      FROM bg GROUP BY 1)
SELECT u.doc_id, n_tokens, n_distinct,
       round(n_distinct / n_tokens::DOUBLE, 6) AS type_token_ratio,
       round(top_uni / n_tokens::DOUBLE, 6) AS top_unigram_frac,
       round(coalesce(top_big / n_bigrams::DOUBLE, 0), 6) AS top_bigram_frac,
       round(chars / n_tokens::DOUBLE, 6) AS mean_token_len
FROM u LEFT JOIN b ON u.doc_id = b.doc_id
"""


# Redaction patterns: regex subset shared by Java regex and RE2 (character
# classes + \b anchors; no lookbehind). The email pattern is the PII form
# (zero hits on this synthetic corpus — by design); the term pattern
# exercises non-trivial replacement on every engine.
REDACT_PATTERNS = {
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}": "[EMAIL]",
    r"\bcustomer\b": "[CUSTOMER]",
}


def q_docs_redacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/term redaction: pattern-scrub the text (all occurrences) and
    count hits — row-local regexp codegen, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_hits = None
    for pat in REDACT_PATTERNS:
        cnt = F.regexp_count(F.col("text"), F.lit(pat))
        n_hits = cnt if n_hits is None else n_hits + cnt
    return docs.select(
        "doc_id",
        redact(F.col("text"), REDACT_PATTERNS).alias("clean_text"),
        n_hits.cast("int").alias("n_redactions"))


def _oracle_redacted() -> str:
    clean = "text"
    hits = []
    for pat, repl in REDACT_PATTERNS.items():
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
        hits.append(f"len(regexp_extract_all(text, '{pat}'))")
    return rf"""
SELECT doc_id, {clean} AS clean_text,
       ({' + '.join(hits)})::INT AS n_redactions
FROM documents
"""


SAMPLE_EXACT_N = 12


def q_docs_sample_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-stratum deterministic sample (hash-ranked) — the
    count-budgeted twin of the rate sample."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.sample_exact_n(docs, SAMPLE_EXACT_N,
                                   key_cols=("lang", "source"),
                                   id_col="doc_id", salt=SAMPLE_SALT)


def _oracle_sample_exact_n() -> str:
    from ..operators.sampling import SAMPLE_BUCKETS
    hb = (f"('0x' || substr(md5(doc_id || '|{SAMPLE_SALT}'), 1, 12))::BIGINT"
          f" % {SAMPLE_BUCKETS}")
    return rf"""
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (PARTITION BY lang, source
                               ORDER BY {hb}, doc_id) AS rn
  FROM documents)
WHERE rn <= {SAMPLE_EXACT_N}
"""


# Char budgets per language for the token-budget mix (chars stand in for
# tokens on this synthetic corpus; the operator takes any additive weight)
MIX_BUDGETS = {"en": 20_000, "de": 8_000, "zh": 9_000}
MIX_DEFAULT_BUDGET = 4_000


def q_docs_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-filled training mix: docs in deterministic hash order per
    language until the stratum's char budget is reached (prefix rule:
    keep while the running total stays within budget)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.token_budget_mix(
        docs, MIX_BUDGETS, stratum_col="lang", weight_col="n_chars",
        id_col="doc_id", salt=SAMPLE_SALT,
        default_budget=MIX_DEFAULT_BUDGET)


def _oracle_token_budget_mix() -> str:
    from ..operators.sampling import SAMPLE_BUCKETS
    hb = (f"('0x' || substr(md5(doc_id || '|{SAMPLE_SALT}'), 1, 12))::BIGINT"
          f" % {SAMPLE_BUCKETS}")
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in MIX_BUDGETS.items())
    return rf"""
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY {hb}, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
         CASE lang {whens} ELSE {MIX_DEFAULT_BUDGET} END AS budget
  FROM documents)
WHERE cum <= budget
"""


def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the 4× storage-compression path for a 100 TB vector lake; row-local,
    zero shuffles, bit-reproducible in DuckDB list functions.

    The operator returns (id, scale, q array<int>); the driver-checked
    projection space-joins ``q`` into a lossless string because no
    array-typed column has ever been through the driver's value-hash
    gate (every green query to date emits scalars) — the values, not the
    container, are what parity attests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_int8(emb).select(
        "vec_id", "scale",
        F.concat_ws(" ", F.col("q")).alias("q_str"))


ORACLE_QUANTIZE_INT8 = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax FROM v)
SELECT vec_id,
       round(amax / 127.0, 9) AS scale,
       array_to_string(
         CASE WHEN amax = 0
              THEN list_transform(v, x -> 0::INT)
              ELSE list_transform(v, x -> round(x / (amax / 127.0))::INT)
         END, ' ') AS q_str
FROM s
"""


# Training-mix quality gates, picked against the sf0.01 metric
# distribution so each clause actually bites (TTR p05≈0.31, top-unigram
# p90≈0.14, n_tokens p05=16): ~20-30% of the corpus drops here.
MIX_MIN_TOKENS = 12
MIX_MIN_TTR = 0.34
MIX_MAX_TOP_UNI = 0.14


def q_docs_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data pipeline in one plan — the flagship
    integration of the LLM-data family, in the order a real 100 TB job
    runs it (cheapest filter first so every later stage sees less data):

    1. quality gate: Gopher-style repetition thresholds;
    2. near-dup removal: MinHash/LSH pairs → connected components →
       min-id canonical survives;
    3. deterministic stratified sample at per-(lang, source) rates.

    Every stage is the already-oracle-checked operator; the composed
    oracle chains the same CTEs, so the WHOLE pipeline is hash-verified
    end to end, not just its pieces.

    Every expensive input is a session-keyed shared artifact: the
    quality gate filters the ``_gopher_stats`` doc-stats table (round
    8 — previously re-tokenized the corpus per run), the dedup stage
    consumes the shared ``_full_pairs`` artifact restricted to
    gate-surviving ends rather than re-running banded discovery on
    the filtered corpus, and the component step starts from the
    shared ``_full_clusters`` labels instead of re-looping. The
    restriction is EXACT, not an approximation: MinHash signatures
    and band hashes are per-document, so a pair collides in a band
    over the filtered corpus iff it collides over the full corpus,
    and Jaccard verification is per-pair — hence pairs(filtered) ≡
    pairs(full) ∩ (good × good).

    Component recompute under VERTEX DELETION (round 8): dropping the
    gate-failing docs can only change components that CONTAINED one
    (removing a vertex can split its component but cannot touch any
    other — every edge of an untouched cluster has both endpoints
    intact, so its member set, min-id label, and canonical flag carry
    over verbatim). The iterative part therefore re-runs only on the
    touched clusters' surviving edges — work ∝ affected components,
    the same maintenance contract as ``dup_clusters_incremental``
    (edge addition), and the composed oracle (full recompute over
    docs_f) hash-verifies the equivalence."""
    docs = load_table(spark, sf_dir, "documents")
    good = (_gopher_stats(spark, sf_dir)
            .filter((F.col("n_tokens") >= MIX_MIN_TOKENS)
                    & (F.col("type_token_ratio") >= MIX_MIN_TTR)
                    & (F.col("top_unigram_frac") <= MIX_MAX_TOP_UNI))
            .select("doc_id"))
    docs_f = docs.join(good, "doc_id", "left_semi")
    full_cl = _full_clusters(spark, sf_dir)
    touched = (full_cl.join(good, "doc_id", "left_anti")
               .select("cluster_id").distinct())
    intact = full_cl.join(touched, "cluster_id", "left_anti")
    touched_members = (full_cl.join(touched, "cluster_id", "left_semi")
                       .select("doc_id"))
    sub_pairs = (
        _full_pairs(spark, sf_dir)
        .join(touched_members.select(F.col("doc_id").alias("doc_a")),
              "doc_a", "left_semi")
        .join(good.select(F.col("doc_id").alias("doc_a")), "doc_a",
              "left_semi")
        .join(good.select(F.col("doc_id").alias("doc_b")), "doc_b",
              "left_semi"))
    clusters = intact.unionByName(neardup.dup_clusters(sub_pairs))
    kept = neardup.keep_canonical(docs_f, clusters)
    return sampling.stratified_sample(
        kept, SAMPLE_RATES, key_cols=("lang", "source"),
        id_col="doc_id", salt=SAMPLE_SALT,
        default_rate=SAMPLE_DEFAULT_RATE)


def _oracle_training_mix() -> str:
    from ..operators.sampling import SAMPLE_BUCKETS
    qual = ORACLE_QUALITY_GOPHER.format(toks=_DUCK_TOKENS, src="documents")
    whens = "\n         ".join(
        f"WHEN lang = '{lang}' AND source = '{src}' "
        f"THEN {int(round(rate * SAMPLE_BUCKETS))}"
        for (lang, src), rate in SAMPLE_RATES.items())
    default_thr = int(round(SAMPLE_DEFAULT_RATE * SAMPLE_BUCKETS))
    return rf"""
WITH qual AS ({qual}),
docs_f AS (
  SELECT d.* FROM documents d
  JOIN qual q ON q.doc_id = d.doc_id
  WHERE q.n_tokens >= {MIX_MIN_TOKENS}
    AND q.type_token_ratio >= {MIX_MIN_TTR}
    AND q.top_unigram_frac <= {MIX_MAX_TOP_UNI}
),
clust AS ({_oracle_dup_clusters(src="docs_f")}),
kept AS (
  SELECT d.* FROM docs_f d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM clust WHERE NOT is_canonical)
)
SELECT doc_id, text, lang, source, n_chars
FROM kept
WHERE ('0x' || substr(md5(doc_id || '|{SAMPLE_SALT}'), 1, 12))::BIGINT
      % {SAMPLE_BUCKETS}
    < CASE {whens}
         ELSE {default_thr} END
"""


# "Daily increment" predicate for the incremental-dedup demonstration:
# 10% of docs by id — scale-factor-independent, so the same query is
# meaningful at every SF the driver runs.
INCR_BATCH_MOD = 10


def q_docs_near_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: pairs touching the daily increment only
    (batch×corpus ∪ batch×batch) — per-day work scales with the
    increment, never corpus². Oracle: the full self-join pair set
    filtered to batch-touching pairs (provably the same candidates —
    signatures are per-document). The verified pair set is the shared
    per-session artifact ``_incr_pairs`` — cluster maintenance
    (``docs_dup_clusters_incremental``) folds in the same frame instead
    of re-running discovery."""
    return _incr_pairs(spark, sf_dir)


def _oracle_near_dup_incremental() -> str:
    return rf"""
WITH full_pairs AS ({_oracle_near_dup()})
SELECT * FROM full_pairs
WHERE doc_a % {INCR_BATCH_MOD} = 0 OR doc_b % {INCR_BATCH_MOD} = 0
"""


# Benchmark split for the decontamination demonstration: ~1% of docs by
# id stand in for an eval suite. CONTAM_N uses the corpus-wide shingle
# order (3) — real pipelines use 8-13-gram windows on natural text; the
# synthetic corpus' short word-soup docs need the shorter window to
# exercise the operator non-trivially.
CONTAM_BENCH_MOD = 97
CONTAM_N = SHINGLE_N


def q_docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (n-gram overlap): per corpus doc, the
    count of distinct benchmark n-grams it contains. The benchmark's
    n-gram hash set broadcasts; the corpus is scanned once, never
    shuffled on the n-gram key (operators/neardup.py:contamination_hits).
    """
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    return neardup.contamination_hits(corpus, bench, n=CONTAM_N)


def _oracle_contamination() -> str:
    return rf"""
WITH {_shingle_cte()},
bench AS (SELECT DISTINCT hv FROM h WHERE doc_id % {CONTAM_BENCH_MOD} = 0)
SELECT h.doc_id, count(*) AS n_hits
FROM h JOIN bench USING (hv)
WHERE h.doc_id % {CONTAM_BENCH_MOD} <> 0
GROUP BY h.doc_id
"""


def q_docs_contamination_attribution(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """WHICH benchmark doc does each contaminated corpus doc overlap
    most (distinct shared n-grams, ties → smallest benchmark id)? The
    triage step after docs_contamination flags a doc — same
    bench/corpus split and n, so the two tables join directly
    (operators/neardup.py:contamination_attribution; argmax is a
    max-of-struct partial agg, no window)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    return neardup.contamination_attribution(corpus, bench, n=CONTAM_N)


def _oracle_contamination_attribution() -> str:
    return rf"""
WITH {_shingle_cte()},
b AS (SELECT doc_id AS bench_doc, hv FROM h
      WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
c AS (SELECT doc_id, hv FROM h WHERE doc_id % {CONTAM_BENCH_MOD} <> 0),
sh AS (SELECT c.doc_id, bench_doc, count(*)::BIGINT AS n_shared
       FROM c JOIN b USING (hv) GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY n_shared DESC,
                                            bench_doc ASC) AS rn
      FROM sh)
SELECT doc_id, bench_doc::BIGINT AS bench_doc, n_shared
FROM r WHERE rn = 1
"""


def q_docs_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a fixed-size Bloom filter — the scale
    path of ``docs_contamination``: when the benchmark/prior-run n-gram
    set outgrows an exact broadcast hash set, the 8 KB Bloom summary
    still broadcasts and the membership test stays row-local (bounded
    false-positive rate, zero false negatives — pytest asserts the
    per-doc superset relation vs the exact twin). Same bench/corpus
    split and n as the exact query so the two are directly comparable.
    operators/neardup.py:bloom_contamination_hits.

    The FILTER is a build-once artifact (a benchmark suite changes
    rarely; a production run builds it at publish time and every scan
    reuses it) — an 8 KB dense word list."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    bloom = _memo(
        spark, ("bloom", sf_dir, CONTAM_N, CONTAM_BENCH_MOD), "documents",
        lambda: neardup.bloom_build(
            docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0),
            n=CONTAM_N))
    return neardup.bloom_contamination_hits(
        corpus, None, n=CONTAM_N, prebuilt=bloom)


def _oracle_bloom_contamination() -> str:
    from ..operators.neardup import BLOOM_BITS, BLOOM_K, BLOOM_WORD_BITS
    # Kirsch–Mitzenmacher positions from the existing 48-bit hash —
    # identical integer math to operators/neardup.py:_bloom_pos
    pos = (f"((hv % {BLOOM_BITS}) + j * (((hv >> 16) % {BLOOM_BITS}) | 1))"
           f" % {BLOOM_BITS}")
    return rf"""
WITH {_shingle_cte()},
bench AS (SELECT DISTINCT hv FROM h WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
bp AS (SELECT {pos} AS pos
       FROM (SELECT hv, unnest(range(0, {BLOOM_K})) AS j FROM bench)),
bloom AS (SELECT (pos // {BLOOM_WORD_BITS})::INT AS word,
                 bit_or(1::BIGINT << (pos % {BLOOM_WORD_BITS})::INT) AS mask
          FROM bp GROUP BY 1),
cpos AS (SELECT doc_id, hv, {pos} AS pos
         FROM (SELECT doc_id, hv, unnest(range(0, {BLOOM_K})) AS j
               FROM h WHERE doc_id % {CONTAM_BENCH_MOD} <> 0)),
flags AS (
  SELECT c.doc_id, c.hv,
         min(CASE WHEN b.mask IS NOT NULL
                   AND ((b.mask >> (c.pos % {BLOOM_WORD_BITS})::INT) & 1) = 1
             THEN 1 ELSE 0 END) AS ok
  FROM cpos c
  LEFT JOIN bloom b ON b.word = (c.pos // {BLOOM_WORD_BITS})::INT
  GROUP BY c.doc_id, c.hv
)
SELECT doc_id, count(*)::BIGINT AS n_bloom_hits
FROM flags WHERE ok = 1 GROUP BY doc_id
"""


# The synthetic corpus has a ~31-token universe, so the coverage demo
# uses a deliberately tight vocabulary: top-20 tokens in, tail out.
OOV_VOCAB_TOP = 20


def q_docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage check: per language, the fraction of token
    OCCURRENCES outside the top-OOV_VOCAB_TOP corpus vocabulary (the number
    a tokenizer/vocab decision is judged by). The vocab is a broadcast
    dim; the token stream is scanned once with a partial-aggregatable
    per-lang rollup — no shuffle keyed on tokens except inside the
    vocab-build aggregate itself."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
    vocab = (
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("token").asc())
        .limit(OOV_VOCAB_TOP)
        .select("token", F.lit(1).alias("__inv"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum(F.when(F.col("__inv").isNull(), 1).otherwise(0))
             .alias("n_oov"))
        .select("lang",
                F.col("n_tokens").cast("bigint").alias("n_tokens"),
                F.col("n_oov").cast("bigint").alias("n_oov"),
                F.round(F.col("n_oov") / F.col("n_tokens"), 6)
                .alias("oov_rate"))
    )


def _oracle_oov_rate() -> str:
    return rf"""
WITH tok AS (SELECT lang, unnest({_DUCK_TOKENS}) AS token FROM documents),
v AS (SELECT token, 1 AS inv FROM (
        SELECT token, count(*) AS c FROM tok GROUP BY token
        ORDER BY c DESC, token LIMIT {OOV_VOCAB_TOP}))
SELECT lang, count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       round(sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS oov_rate
FROM tok LEFT JOIN v USING (token)
GROUP BY lang
"""


def q_docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication: per doc, the fraction of n-gram positions
    whose n-gram appears in ≥2 distinct docs (partial-copy signal that
    doc-level dedup misses; operators/neardup.py:dup_span_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.dup_span_stats(docs, n=SHINGLE_N)


def _oracle_dup_spans() -> str:
    hv = _DUCK_HASH48.format(c="shingle")
    n = SHINGLE_N
    parts = " || ' ' || ".join(f"w[i + {k}]" for k in range(n))
    return rf"""
WITH tok AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents),
occ0 AS (SELECT doc_id,
                unnest(list_transform(range(1, len(w) - {n - 2}),
                                      i -> {parts})) AS shingle
         FROM tok),
occ AS (SELECT doc_id, {hv} AS hv FROM occ0),
dfq AS (SELECT hv, count(DISTINCT doc_id)::BIGINT AS df FROM occ GROUP BY hv)
SELECT doc_id, count(*)::BIGINT AS n_spans,
       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans,
       round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS dup_span_frac
FROM occ JOIN dfq USING (hv)
GROUP BY doc_id
"""


def q_docs_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: per-doc average negative log-likelihood
    under the corpus' own unigram distribution (CCNet-style signal;
    operators/textops.py:unigram_logprob — pinned-order fold for float
    parity; r16: the corpus token count N rides the plan as a broadcast
    1-row aggregate instead of a construction-time blocking ``count()``
    over a second corpus scan)."""
    docs = load_table(spark, sf_dir, "documents")
    return textops_unigram(docs)


def _oracle_unigram_nll() -> str:
    return rf"""
WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents),
tf AS (SELECT doc_id, t, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
cc AS (SELECT t, sum(tf)::BIGINT AS c FROM tf GROUP BY 1),
tot AS (SELECT sum(c)::BIGINT AS total FROM cc),
v AS (SELECT doc_id, t,
             tf::DOUBLE * ln(c::DOUBLE / total::DOUBLE) AS v, tf
      FROM tf JOIN cc USING (t), tot)
SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
       round(-list_aggregate(list(v ORDER BY t), 'sum')
             / sum(tf)::BIGINT, 6) AS unigram_nll
FROM v GROUP BY doc_id
"""


QP_FRAC = 0.25


def q_docs_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language relative quality gate: drop each language's bottom
    quartile by type-token ratio. Exact count-quantile thresholds from
    the (lang × distinct metric) frame — the corpus itself is never
    windowed (operators/textops.py:quality_percentile_filter)."""
    docs = load_table(spark, sf_dir, "documents")
    return textops_qpf(docs, QP_FRAC)


def _oracle_quality_percentile() -> str:
    return rf"""
WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents),
uni AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
u AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_distinct
      FROM uni GROUP BY 1),
s AS (SELECT doc_id,
             round(n_distinct / n_tokens::DOUBLE, 6) AS type_token_ratio
      FROM u),
sl AS (SELECT s.doc_id, lang, type_token_ratio
       FROM s JOIN documents USING (doc_id)),
counts AS (SELECT lang, type_token_ratio, count(*)::BIGINT AS c
           FROM sl GROUP BY 1, 2),
cumul AS (SELECT lang, type_token_ratio,
                 (sum(c) OVER (PARTITION BY lang ORDER BY type_token_ratio
                               ROWS UNBOUNDED PRECEDING))::BIGINT AS cumc
          FROM counts),
n AS (SELECT lang, count(*)::BIGINT AS n FROM sl GROUP BY 1),
thr AS (SELECT lang, min(type_token_ratio) AS thr
        FROM cumul JOIN n USING (lang)
        WHERE cumc >= ceil({QP_FRAC!r} * n) GROUP BY lang)
SELECT doc_id, lang, type_token_ratio
FROM sl JOIN thr USING (lang) WHERE type_token_ratio >= thr
"""


HOT_MIN_DF = 5
HOT_TOP = 40


def q_docs_hot_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: top n-grams by document frequency (df ≥
    HOT_MIN_DF). Hash-first so the string universe never shuffles;
    strings are recovered only for the broadcast hot set
    (operators/neardup.py:hot_ngrams)."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.hot_ngrams(docs, HOT_MIN_DF, HOT_TOP, n=SHINGLE_N)


def _oracle_hot_ngrams() -> str:
    return rf"""
WITH {_shingle_cte()},
hot AS (SELECT hv, count(*)::BIGINT AS df FROM h GROUP BY hv
        HAVING count(*) >= {HOT_MIN_DF}
        ORDER BY df DESC, hv LIMIT {HOT_TOP}),
names AS (SELECT DISTINCT {_DUCK_HASH48.format(c="shingle")} AS hv, shingle
          FROM sh0)
SELECT DISTINCT n.shingle AS ngram, hot.df
FROM hot JOIN names n USING (hv)
"""


def q_docs_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate REMOVAL: drop every token position covered
    by a corpus-hot n-gram (df ≥ HOT_MIN_DF, top HOT_TOP by df) and
    rejoin the remainder — the rewrite step `docs_hot_ngrams` only
    detects (operators/neardup.py:scrub_hot_ngrams)."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.scrub_hot_ngrams(docs, HOT_MIN_DF, HOT_TOP, n=SHINGLE_N)


def _scrub_ctes() -> str:
    """The C4-style scrub chain as a reusable CTE body (tok → hot →
    covered positions → kept → rebuilt) — shared by the standalone
    scrub oracle and composed pipelines that continue over the
    scrubbed corpus (scrub → containment)."""
    n = SHINGLE_N
    shingle_parts = " || ' ' || ".join(f"w[i + {k}]" for k in range(n))
    hv = _DUCK_HASH48.format(c=f"({shingle_parts})")
    return rf"""{_shingle_cte()},
hot AS (SELECT hv FROM h GROUP BY hv
        HAVING count(*) >= {HOT_MIN_DF}
        ORDER BY count(*)::BIGINT DESC, hv LIMIT {HOT_TOP}),
starts AS (
  SELECT doc_id, u.pos AS pos, u.hv AS hv
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(w) - {n - 2}),
                                     i -> {{'pos': i, 'hv': {hv}}})) AS u
        FROM tok)
),
cov AS (SELECT DISTINCT s.doc_id, s.pos + t.k AS pos
        FROM starts s
        JOIN hot USING (hv)
        CROSS JOIN range(0, {n}) t(k)),
tokpos AS (
  SELECT doc_id, u.pos AS pos, u.t AS t
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(w) + 1),
                                     i -> {{'pos': i, 't': w[i]}})) AS u
        FROM tok)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.t
  FROM tokpos tp ANTI JOIN cov c
    ON c.doc_id = tp.doc_id AND c.pos = tp.pos
),
rebuilt AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS clean_text,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
)"""


def _oracle_boilerplate_scrub() -> str:
    return rf"""
WITH {_scrub_ctes()}
SELECT tok.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       len(tok.w)::BIGINT AS n_tokens,
       (len(tok.w) - coalesce(r.n_kept, 0))::BIGINT AS n_removed
FROM tok LEFT JOIN rebuilt r USING (doc_id)
"""


BM25_QUERY_TERMS = ("spark", "merge", "window")
BM25_TOP_K = 20


def q_docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k keyword retrieval for a fixed query — the
    lexical twin of the embedding ANN family
    (operators/textops.py:bm25_search; posting list pruned to query
    terms before any shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.bm25_search(docs, BM25_QUERY_TERMS, BM25_TOP_K)


def _oracle_bm25(k: int = BM25_TOP_K) -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    k1, b = textops.BM25_K1, textops.BM25_B
    return rf"""
WITH dl AS (SELECT doc_id, len({_DUCK_TOKENS})::BIGINT AS dl FROM documents),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents),
tf AS (SELECT doc_id, t, count(*)::BIGINT AS tf FROM tok
       WHERE t IN ({terms}) GROUP BY 1, 2),
df AS (SELECT t, count(*)::BIGINT AS df FROM tf GROUP BY t),
contrib AS (
  SELECT tf.doc_id, tf.t,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / s.avgdl)) AS v
  FROM tf JOIN df USING (t) JOIN dl USING (doc_id), stats s
),
agg AS (
  SELECT doc_id, count(*)::INT AS n_terms_hit,
         list(struct_pack(t := t, v := v) ORDER BY t) AS tv
  FROM contrib GROUP BY doc_id
)
SELECT doc_id,
       round(list_reduce(list_prepend(0.0, list_transform(tv, s -> s.v)),
                         (a, x) -> a + x), 6) AS bm25,
       n_terms_hit
FROM agg
ORDER BY bm25 DESC, doc_id
LIMIT {k}
"""


HYBRID_K = 15        # fused result size
HYBRID_CAND = 30     # per-ranker candidate depth feeding the fusion
HYBRID_QUERY_VEC = 0  # the query embedding: vec_id 0 (ids align with doc_id)


def q_docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the fusion the BM25 and ANN families exist
    for: the lexical BM25 top-``HYBRID_CAND`` (fixed term query) and the
    semantic exact-cosine top-``HYBRID_CAND`` (query = embedding of
    ``vec_id 0``; embeddings ids align with doc ids) are combined by
    reciprocal-rank fusion (operators/textops.py:rrf_fuse). Rank-based
    fusion needs no score normalization across the two scales; both
    candidate lists are k-bounded, so the fusion stage is tiny at any
    corpus size."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = textops.bm25_search(docs, BM25_QUERY_TERMS, HYBRID_CAND)
    # rank over the already-k-bounded list (rounded score + id tiebreak
    # — the window spans ≤ HYBRID_CAND rows, never the corpus)
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    lex_r = lex.select("doc_id", F.row_number().over(wl).alias("rank"))
    sem = similarity.knn_bruteforce(
        emb, emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC), HYBRID_CAND)
    sem_r = sem.select(F.col("neighbor_id").alias("doc_id"), "rank")
    return textops.rrf_fuse([lex_r, sem_r], HYBRID_K)


def _oracle_hybrid_rrf() -> str:
    return rf"""
WITH lex0 AS ({_oracle_bm25(HYBRID_CAND)}),
lexr AS (SELECT doc_id,
                row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
         FROM lex0),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = {HYBRID_QUERY_VEC}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id != {HYBRID_QUERY_VEC}),
semr AS (
  SELECT neighbor_id AS doc_id, rank FROM (
    SELECT neighbor_id,
           row_number() OVER (ORDER BY {_DUCK_COS} DESC, neighbor_id)
             AS rank
    FROM c, q)
  WHERE rank <= {HYBRID_CAND}
),
u AS (SELECT doc_id, 1.0 / (60 + rank) AS contrib FROM lexr
      UNION ALL
      SELECT doc_id, 1.0 / (60 + rank) FROM semr)
SELECT doc_id, round(sum(contrib), 6) AS rrf_score,
       count(*)::INT AS n_rankers
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {HYBRID_K}
"""


MMR_CAND = 20
MMR_K = 5
MMR_LAMBDA = 0.7


def q_emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank of the top-``MMR_CAND`` cosine candidates
    for the ``vec_id 0`` query — the post-retrieval pass that trades
    relevance against redundancy (λ = 0.7). Greedy selection is
    inherently sequential, so it runs as ``MMR_K`` unrolled DataFrame
    steps over candidate-bounded localCheckpointed frames (no driver
    collect; see operators/similarity.py:mmr_rerank) and the oracle
    unrolls the same fixed step count as SQL CTEs — the Lloyd-unroll
    pattern applied to retrieval."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC)
    sem = similarity.knn_bruteforce(emb, qv, MMR_CAND)
    cands = sem.select(F.col("neighbor_id").alias("doc_id"),
                       F.col("cos_sim").alias("rel"))
    cvecs = emb.join(
        sem.select(F.col("neighbor_id").alias("vec_id")),
        "vec_id", "left_semi")
    psim = (similarity.pairwise_cosine(cvecs)
            .withColumnRenamed("id_a", "id_a")
            .select(F.col("id_a"), F.col("id_b"), F.col("sim")))
    return similarity.mmr_rerank(cands, psim, MMR_K, MMR_LAMBDA)


def _oracle_mmr_rerank() -> str:
    lam, om = repr(MMR_LAMBDA), repr(1.0 - MMR_LAMBDA)
    cos_qc = ("list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv))"
              " * sqrt(list_dot_product(cv, cv)))")
    cos_ab = ("list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
              " * sqrt(list_dot_product(b.v, b.v)))")
    ctes = [
        f"""q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = {HYBRID_QUERY_VEC})""",
        f"""cand AS (
  SELECT id, round(cos_raw, 6) AS rel FROM (
    SELECT c.vec_id AS id, {cos_qc} AS cos_raw
    FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
          WHERE vec_id != {HYBRID_QUERY_VEC}) c, q)
  ORDER BY cos_raw DESC, id LIMIT {MMR_CAND})""",
        f"""cv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id IN (SELECT id FROM cand))""",
        f"""psim AS (SELECT a.id AS ia, b.id AS ib, round({cos_ab}, 6) AS sim
      FROM cv a JOIN cv b ON a.id != b.id)""",
        """sel1 AS (SELECT id, rel, 1 AS mmr_rank, rel AS score
      FROM cand ORDER BY rel DESC, id LIMIT 1)""",
        "selu1 AS (SELECT * FROM sel1)",
    ]
    for i in range(2, MMR_K + 1):
        ctes.append(f"""rem{i} AS (
  SELECT * FROM cand
  WHERE id NOT IN (SELECT id FROM selu{i - 1}))""")
        ctes.append(f"""sc{i} AS (
  SELECT r.id, r.rel, {lam} * r.rel - {om} * max(p.sim) AS score
  FROM rem{i} r JOIN psim p ON p.ia = r.id
  JOIN selu{i - 1} s ON s.id = p.ib
  GROUP BY r.id, r.rel)""")
        ctes.append(f"""sel{i} AS (
  SELECT id, rel, {i} AS mmr_rank, score FROM sc{i}
  ORDER BY score DESC, id LIMIT 1)""")
        ctes.append(f"""selu{i} AS (
  SELECT * FROM selu{i - 1} UNION ALL SELECT * FROM sel{i})""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT id AS doc_id, mmr_rank::INT AS mmr_rank,
       round(score, 6) AS mmr_score
FROM selu{MMR_K}
"""


TEMP_FRAC = 0.5
TEMP_SALT = "temp0"


def q_docs_lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (α = 0.5) per-language sample targeting
    TEMP_FRAC of the corpus: low-resource languages keep a higher share
    than their natural frequency (operators/sampling.py:
    temperature_sample — sqrt + order-pinned fold for bit parity)."""
    docs = load_table(spark, sf_dir, "documents")
    return (sampling.temperature_sample(docs, TEMP_FRAC, salt=TEMP_SALT)
            .select("doc_id", "lang"))


def _oracle_lang_temperature() -> str:
    hb = f"('0x' || substr(md5(doc_id || '|{TEMP_SALT}'), 1, 12))::BIGINT"
    nb = sampling.SAMPLE_BUCKETS
    return rf"""
WITH c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
t AS (SELECT lang, n, (sum(n) OVER ())::BIGINT AS n_total FROM c),
p AS (SELECT lang, n, n_total,
             sqrt(n::DOUBLE / n_total::DOUBLE) AS pw FROM t),
d AS (SELECT list_aggregate(list(pw ORDER BY lang), 'sum') AS denom FROM p),
r AS (SELECT lang,
             round(least(1.0, round({TEMP_FRAC!r} * n_total) * pw / denom
                              / n::DOUBLE) * {nb})::BIGINT AS thr
      FROM p, d)
SELECT doc_id, lang FROM documents JOIN r USING (lang)
WHERE {hb} % {nb} < thr
"""


PACK_SEQ_LEN = 2048
PACK_SALT = "pack0"


def q_docs_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: each doc's span in the concatenated training
    stream chunked into PACK_SEQ_LEN-char sequences. Spark side runs the
    two-level distributed prefix sum (operators/packing.py) — no global
    window; the oracle is the single-window semantic spec."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.pack_sequences(docs, PACK_SEQ_LEN, salt=PACK_SALT)


def _oracle_packed() -> str:
    hb = f"('0x' || substr(md5(doc_id || '|{PACK_SALT}'), 1, 12))::BIGINT"
    return rf"""
WITH b AS (
  SELECT doc_id, n_chars, {hb} % {sampling.SAMPLE_BUCKETS} AS sb
  FROM documents WHERE n_chars > 0
),
c AS (
  SELECT doc_id, n_chars,
         (sum(n_chars) OVER (ORDER BY sb, doc_id
                             ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
  FROM b
)
SELECT doc_id,
       ((cum - n_chars) // {PACK_SEQ_LEN})::BIGINT AS first_seq,
       ((cum - 1) // {PACK_SEQ_LEN})::BIGINT AS last_seq,
       ((cum - n_chars) % {PACK_SEQ_LEN})::BIGINT AS seq_offset
FROM c
"""


def q_emb_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain kNN: cosine over the int8 codes (scales cancel
    in the ratio) — the 4×-fewer-bytes read path; recall vs full
    precision is property-tested in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_bruteforce_int8(emb, queries, KNN_K)


ORACLE_KNN_INT8 = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax FROM v),
quant AS (SELECT vec_id,
                 CASE WHEN amax = 0 THEN list_transform(v, x -> 0.0)
                      ELSE list_transform(v, x -> round(x / (amax / 127.0)))
                 END AS q
          FROM s),
q AS (SELECT vec_id AS query_id, q AS qv FROM quant
      WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, q AS cv FROM quant),
scored AS (
  SELECT query_id, neighbor_id, {_DUCK_COS} AS cos_raw
  FROM q, c WHERE neighbor_id != query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos_sim, rank::INT AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per query vector, the top-k most-similar
    corpus vectors with a DIFFERENT label — the contrastive-training
    feed (operators/similarity.py:knn_hard_negatives; label-mismatch
    filtered before the top-k window)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_hard_negatives(emb, queries, KNN_K)


ORACLE_HARD_NEGATIVES = f"""
WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                  embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, label AS neighbor_label,
             embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label,
         {_DUCK_COS} AS cos_raw
  FROM q, c WHERE neighbor_label != query_label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, query_label, neighbor_id, neighbor_label,
       round(cos_raw, 6) AS cos_sim, rank::INT AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


RERANK_C = 25   # stage-1 shortlist size for the two-stage funnel


def q_emb_knn_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval funnel: int8 compressed-domain shortlist of
    ``RERANK_C`` candidates per query, full-precision cosine re-ranking
    of only those pairs to top ``KNN_K`` — the coarse-scan → exact-rerank
    recall/cost pattern every production vector store runs
    (operators/similarity.py:knn_int8_rerank). The candidate list is
    broadcast so non-candidate full-precision vectors prune map-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_int8_rerank(emb, queries, KNN_K, RERANK_C)


ORACLE_KNN_INT8_RERANK = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax FROM v),
quant AS (SELECT vec_id,
                 CASE WHEN amax = 0 THEN list_transform(v, x -> 0.0)
                      ELSE list_transform(v, x -> round(x / (amax / 127.0)))
                 END AS q
          FROM s),
q8 AS (SELECT vec_id AS query_id, q AS qv FROM quant
       WHERE vec_id < {KNN_QUERY_MAX_ID}),
c8 AS (SELECT vec_id AS neighbor_id, q AS cv FROM quant),
coarse AS (
  SELECT query_id, neighbor_id, {_DUCK_COS} AS cos8
  FROM q8, c8 WHERE neighbor_id != query_id
),
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos8 DESC, neighbor_id) AS r8
        FROM coarse)
  WHERE r8 <= {RERANK_C}
),
exact AS (
  SELECT query_id, neighbor_id, {_DUCK_COS} AS cos_raw
  FROM cand
  JOIN (SELECT vec_id, v AS qv FROM v) q ON q.vec_id = cand.query_id
  JOIN (SELECT vec_id, v AS cv FROM v) c ON c.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos_sim, rank::INT AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


def q_emb_knn_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-sketch funnel: sign-bit codes (64 dims → two 32-bit words,
    128× smaller than float32), Hamming shortlist of ``RERANK_C`` per
    query via XOR+popcount, full-precision rerank of only those pairs
    (operators/similarity.py:knn_hamming_rerank). The most aggressive
    tier of the quantization family (int8 4×, PQ 64×, binary 128×)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_hamming_rerank(emb, queries, KNN_K, RERANK_C)


def _oracle_knn_hamming_rerank() -> str:
    from ..operators.similarity import BINARY_WORD_BITS as W

    pack_lo = (f"list_sum(list_transform(range(1, {W + 1}), i -> "
               f"CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1)) "
               f"ELSE 0::BIGINT END))::BIGINT")
    pack_hi = (f"list_sum(list_transform(range({W + 1}, {2 * W + 1}), i -> "
               f"CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - {W + 1})) "
               f"ELSE 0::BIGINT END))::BIGINT")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bq AS (SELECT vec_id, {pack_lo} AS lo, {pack_hi} AS hi FROM v),
q1 AS (SELECT vec_id AS query_id, lo, hi FROM bq
       WHERE vec_id < {KNN_QUERY_MAX_ID}),
c1 AS (SELECT vec_id AS neighbor_id, lo, hi FROM bq),
coarse AS (
  SELECT query_id, neighbor_id,
         (bit_count(xor(q1.lo, c1.lo)) + bit_count(xor(q1.hi, c1.hi)))::INT
             AS hamming
  FROM q1, c1 WHERE neighbor_id != query_id
),
cand AS (
  SELECT query_id, neighbor_id, hamming
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY hamming ASC, neighbor_id) AS r1
        FROM coarse)
  WHERE r1 <= {RERANK_C}
),
exact AS (
  SELECT query_id, neighbor_id, hamming, {_DUCK_COS} AS cos_raw
  FROM cand
  JOIN (SELECT vec_id, v AS qv FROM v) q ON q.vec_id = cand.query_id
  JOIN (SELECT vec_id, v AS cv FROM v) c ON c.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, hamming, round(cos_raw, 6) AS cos_sim,
       rank::INT AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


def q_docs_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score: per-doc average negative
    log-likelihood of token bigrams under λ·p(w2|w1) + (1−λ)·p(w2) —
    the KenLM-shaped second-order signal beside ``docs_unigram_nll``
    (operators/textops.py:bigram_nll — row-local bigram fan-out,
    pinned-order fold for float parity; r16: the corpus token count N
    rides the plan as a broadcast 1-row aggregate instead of a
    construction-time blocking ``count()`` over a third corpus scan)."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.bigram_nll(docs)


def _oracle_bigram_nll() -> str:
    from ..operators.textops import BIGRAM_LAMBDA

    lam = float(BIGRAM_LAMBDA)
    return rf"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents),
big AS (SELECT doc_id, w[g] AS w1, w[g + 1] AS w2
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, length(w) - 1)) AS g
              FROM t WHERE length(w) >= 2)),
tf AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS tf FROM big GROUP BY 1, 2, 3),
cb AS (SELECT w1, w2, sum(tf)::BIGINT AS cb FROM tf GROUP BY 1, 2),
cw1 AS (SELECT w1, sum(cb)::BIGINT AS cw1 FROM cb GROUP BY 1),
tokc AS (SELECT t AS w2, count(*)::BIGINT AS cu
         FROM (SELECT unnest({_DUCK_TOKENS}) AS t FROM documents) GROUP BY 1),
tot AS (SELECT count(*)::BIGINT AS n
        FROM (SELECT unnest({_DUCK_TOKENS}) AS t FROM documents)),
pv AS (SELECT doc_id, w1, w2, tf,
              tf::DOUBLE * ln({lam!r} * (cb::DOUBLE / cw1::DOUBLE)
                              + {1.0 - lam!r} * (cu::DOUBLE / n::DOUBLE)) AS v
       FROM tf JOIN cb USING (w1, w2) JOIN cw1 USING (w1)
            JOIN tokc USING (w2), tot)
SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
       round(-list_aggregate(list(v ORDER BY w1, w2), 'sum')
             / sum(tf)::BIGINT, 6) AS bigram_nll
FROM pv GROUP BY doc_id
"""


def q_docs_token_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: per-doc token counts bucketed by power of
    two (2^b ≤ n < 2^{b+1}) with per-bucket doc counts, extremes, and
    token mass — the sizing table behind sequence-packing and truncation
    decisions. The bucket index is integer-exact on both engines
    (length of the binary representation, never floating log2); one
    map-side-combinable aggregate per grain, corpus never windowed."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"))
    return (
        n.withColumn("bucket",
                     (F.length(F.expr("bin(n_tokens)")) - 1).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("n_tokens").alias("min_tokens"),
             F.max("n_tokens").alias("max_tokens"),
             F.sum("n_tokens").alias("total_tokens"))
    )


ORACLE_TOKEN_LEN_HISTOGRAM = f"""
WITH n AS (SELECT length({_DUCK_TOKENS})::BIGINT AS n_tokens FROM documents)
SELECT (length(bin(n_tokens)) - 1)::INT AS bucket,
       count(*)::BIGINT AS n_docs,
       min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens,
       sum(n_tokens)::BIGINT AS total_tokens
FROM n GROUP BY 1
"""


PCA_ITERS = 4   # fixed power-iteration steps (oracle unrolls them)

def q_emb_pca1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal-axis projection via fixed-step power iteration — the
    variance screen / whitening primitive
    (operators/similarity.py:pca1_projection). Mean-centering and every
    Σ w·x are exact decimal sums rounded at 6 dp, normalization is
    row-free double math, so the fixed-iteration loop unrolls into the
    DuckDB oracle below exactly like the Lloyd unrolls of the trained
    ANN queries. The trained (mean, direction) artifact is 2·dim
    floats; with it the projection query is one row-local zero-shuffle
    pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    direction = _memo(
        spark, ("pca1", sf_dir, EMB_DIM, PCA_ITERS), "embeddings",
        lambda: similarity.pca1_direction(emb, EMB_DIM, PCA_ITERS))
    return similarity.pca1_projection(emb, EMB_DIM, PCA_ITERS,
                                      direction=direction)


def _oracle_pca1() -> str:
    dim = EMB_DIM
    parts = [f"""
WITH x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
mdims AS (SELECT i AS pos,
                 round((sum(v[i + 1]::DECIMAL(25,12)))::DOUBLE
                       / count(*), 6) AS m
          FROM x CROSS JOIN range(0, {dim}) t(i) GROUP BY 1),
mu AS (SELECT list(m ORDER BY pos) AS mv FROM mdims),
xc AS (SELECT vec_id, label,
              list_transform(range(1, {dim} + 1), i -> v[i] - mv[i]) AS c
       FROM x, mu),
v0 AS (SELECT list_transform(range(0, {dim}),
                             i -> CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END)
              AS vec)"""]
    for k in range(1, PCA_ITERS + 1):
        parts.append(f""",
w{k} AS (SELECT vec_id, c,
              list_dot_product(c, (SELECT vec FROM v{k - 1})) AS w FROM xc),
u{k} AS (SELECT i AS pos,
              round((sum((w * c[i + 1])::DECIMAL(25,12)))::DOUBLE, 6) AS u
         FROM w{k} CROSS JOIN range(0, {dim}) t(i) GROUP BY 1),
n{k} AS (SELECT sqrt(list_aggregate(list(u * u ORDER BY pos), 'sum'))
                AS nrm FROM u{k}),
v{k} AS (SELECT list(u / nrm ORDER BY pos) AS vec FROM u{k}, n{k})""")
    parts.append(f"""
SELECT vec_id, label,
       round(list_dot_product(c, (SELECT vec FROM v{PCA_ITERS})), 6) AS pc1
FROM xc""")
    return "".join(parts)


PQ_M = 8        # subspaces → EMB_DIM/PQ_M dims each
PQ_NCENT = 16   # codebook entries per subspace (4-bit codes)
PQ_K = 5


def q_emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: per subspace, the nearest codebook
    entry (codebook = subvectors of the first PQ_NCENT corpus vectors).
    64 float32s compress to PQ_M 4-bit codes — a 64× storage cut. One
    broadcast fan-out + one partial-aggregatable min_by aggregate
    (operators/similarity.py:pq_codes)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb, PQ_NCENT)
    return similarity.pq_codes(emb, cb, EMB_DIM, PQ_M)


def _pq_cte() -> str:
    """Shared codes CTE generated from the same constants as the Spark
    operator: v → cent → per-subspace squared distances → lexicographic
    [dist, cid] argmin (ties to the lowest centroid id, mirroring
    min_by's struct key)."""
    subdim = EMB_DIM // PQ_M
    dist_exprs = []
    for j in range(PQ_M):
        off = j * subdim
        diff = (f"list_transform(range(1, {subdim + 1}), "
                f"i -> v[{off} + i] - c[{off} + i])")
        dist_exprs.append(f"list_dot_product({diff}, {diff}) AS d{j}")
    argmins = ", ".join(
        f"(min([d{j}, cid::DOUBLE]))[2]::INT AS c{j}" for j in range(PQ_M))
    return rf"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id::INT AS cid, v AS c FROM v WHERE vec_id < {PQ_NCENT}),
pairs AS (SELECT v.vec_id, cid, {", ".join(dist_exprs)} FROM v, cent),
codes AS (SELECT vec_id, {argmins} FROM pairs GROUP BY vec_id)"""


def _oracle_pq_codes() -> str:
    return f"WITH {_pq_cte()} SELECT * FROM codes"


def _untrained_pq_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-reconstructed corpus under the UNTRAINED (take-first-ncent)
    codebook, localCheckpointed once per (session, sf_dir) — shared by
    the plain PQ kNN and the IVF-PQ composition (both scan this index
    table; in production the codes are written at ingest)."""
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        cb = similarity.pq_codebook(emb, PQ_NCENT)
        return materialize(similarity.pq_reconstruct(
            similarity.pq_codes(emb, cb, EMB_DIM, PQ_M),
            cb, EMB_DIM, PQ_M), "eager")
    return _memo(spark, ("pq_recon_untrained", sf_dir, PQ_M, PQ_NCENT),
                 "embeddings", build)


def q_emb_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain ANN: cosine top-k of full-precision queries
    against the PQ-reconstructed corpus (asymmetric distance — value-
    identical to the ADC lookup-table formulation). Reads the shared
    ``_untrained_pq_recon`` index artifact (round 8)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_pq(emb, queries, PQ_K, EMB_DIM, PQ_M, PQ_NCENT,
                             recon_corpus=_untrained_pq_recon(spark, sf_dir))


def _oracle_knn_pq() -> str:
    subdim = EMB_DIM // PQ_M
    joins = "\n  ".join(
        f"JOIN cent e{j} ON e{j}.cid = k.c{j}" for j in range(PQ_M))
    concat = " || ".join(
        f"e{j}.c[{j * subdim + 1}:{(j + 1) * subdim}]" for j in range(PQ_M))
    return rf"""
WITH {_pq_cte()},
recon AS (
  SELECT k.vec_id, {concat} AS cv
  FROM codes k
  {joins}
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v
      WHERE vec_id < {KNN_QUERY_MAX_ID}),
c2 AS (SELECT vec_id AS neighbor_id, cv FROM recon),
scored AS (
  SELECT query_id, neighbor_id, {_DUCK_COS.replace("cv", "c2.cv")} AS cos_raw
  FROM q, c2 WHERE neighbor_id != query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos_sim, rank::INT AS rank
FROM ranked WHERE rank <= {PQ_K}
"""


FILTER_LANG = "en"


def q_emb_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN — the vector-DB staple: top-k cosine restricted to
    corpus vectors whose joined document satisfies a metadata predicate
    (here lang = 'en'; documents and embeddings share ids by contract).
    The predicate prunes BEFORE scoring (pre-filtering), so the scan
    shrinks with selectivity — at 100 TB the metadata join is a
    semi-join on the shared id, pushed below the BNLJ score."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    allowed = (docs.filter(F.col("lang") == FILTER_LANG)
               .select(F.col("doc_id").alias("vec_id")))
    corpus = emb.join(allowed, "vec_id", "left_semi")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_bruteforce(corpus, queries, KNN_K)


ORACLE_KNN_FILTERED = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings
      WHERE vec_id IN (SELECT doc_id FROM documents
                       WHERE lang = '{FILTER_LANG}')),
scored AS (
  SELECT query_id, neighbor_id, {{cos}} AS cos_raw
  FROM q, c WHERE neighbor_id != query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos_sim, rank::INT AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


def q_emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-modality drift monitor: per-dimension exact-decimal means
    of the two corpus halves (vec_id parity split), signed drift, and
    the cosine between the rounded centroids — completes the drift
    family across all three modalities (docs KS, events CUSUM,
    embeddings here). Scale/determinism notes in
    :func:`operators.similarity.centroid_drift`."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (similarity.centroid_drift(emb)
            .withColumn("pos", F.col("pos").cast("int")))


ORACLE_CENTROID_DRIFT = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
dims AS (SELECT vec_id % 2 AS h, i AS pos, v[i + 1] AS x
         FROM v CROSS JOIN range(0, 64) t(i)),
cm AS (SELECT h, pos,
              round((sum(x::DECIMAL(25,12)))::DOUBLE / count(*), 6) AS m
       FROM dims GROUP BY 1, 2),
p AS (SELECT pos, max(CASE WHEN h = 0 THEN m END) AS mean_a,
             max(CASE WHEN h = 1 THEN m END) AS mean_b
      FROM cm GROUP BY pos),
c AS (SELECT list(mean_a ORDER BY pos) AS ca,
             list(mean_b ORDER BY pos) AS cb FROM p),
cc AS (SELECT round(list_dot_product(ca, cb)
                    / (sqrt(list_dot_product(ca, ca))
                       * sqrt(list_dot_product(cb, cb))), 6)
         AS centroid_cos FROM c)
SELECT pos::INT AS pos, mean_a, mean_b,
       round(mean_b - mean_a, 6) AS drift, centroid_cos
FROM p, cc
"""


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + medoid summary
    (operators/similarity.py:label_centroids — decimal-sum order-free
    means; medoid scored against the rounded centroid on both engines).
    The centroid ARRAY is exploded to scalar ``(label, pos, mean)`` rows
    so the driver's pandas canonicalizer can hash the result (lists are
    unhashable there); the operator itself still returns the array
    form for programmatic use."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = similarity.label_centroids(emb)
    return res.select(
        "label", "n_members",
        F.posexplode("centroid").alias("pos", "mean"),
        "medoid_id", "medoid_cos",
    ).withColumn("pos", F.col("pos").cast("int"))


ORACLE_LABEL_CENTROIDS = """
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
dims AS (SELECT label, i AS pos, v[i + 1] AS x
         FROM v CROSS JOIN range(0, 64) t(i)),
cm AS (SELECT label, pos, count(*) AS n,
              round((sum(x::DECIMAL(25,12)))::DOUBLE / count(*), 6) AS m
       FROM dims GROUP BY 1, 2),
cent AS (SELECT label, max(n)::BIGINT AS n_members,
                list(m ORDER BY pos) AS centroid
         FROM cm GROUP BY label),
scored AS (
  SELECT v.label, vec_id,
         list_dot_product(v.v, c.centroid)
           / (sqrt(list_dot_product(v.v, v.v))
              * sqrt(list_dot_product(c.centroid, c.centroid))) AS cs,
         c.n_members
  FROM v JOIN cent c USING (label)
),
med AS (
  SELECT label, n_members, vec_id AS medoid_id,
         round(cs, 6) AS medoid_cos,
         row_number() OVER (PARTITION BY label
                            ORDER BY cs DESC, vec_id) AS rn
  FROM scored
)
SELECT m.label, m.n_members, cm.pos::INT AS pos, cm.m AS mean,
       m.medoid_id, m.medoid_cos
FROM med m JOIN cm ON cm.label = m.label
WHERE m.rn = 1
"""


OUTLIER_FRAC = 0.05


def q_emb_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the 5% of each label's members
    farthest (lowest cosine) from the label centroid — mislabel/drift
    screen (operators/similarity.py:label_outliers; count-threshold cut,
    corpus never windowed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_outliers(emb, OUTLIER_FRAC)


ORACLE_LABEL_OUTLIERS = f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
dims AS (SELECT label, i AS pos, v[i + 1] AS x
         FROM v CROSS JOIN range(0, 64) t(i)),
cm AS (SELECT label, pos,
              round((sum(x::DECIMAL(25,12)))::DOUBLE / count(*), 6) AS m
       FROM dims GROUP BY 1, 2),
cent AS (SELECT label, list(m ORDER BY pos) AS centroid
         FROM cm GROUP BY label),
scored AS (
  SELECT v.label, vec_id,
         round(list_dot_product(v.v, c.centroid)
               / (sqrt(list_dot_product(v.v, v.v))
                  * sqrt(list_dot_product(c.centroid, c.centroid))),
               6) AS cos_to_centroid
  FROM v JOIN cent c USING (label)
),
pv AS (SELECT label, cos_to_centroid, count(*) AS c
       FROM scored GROUP BY 1, 2),
cum AS (SELECT label, cos_to_centroid,
               sum(c) OVER (PARTITION BY label ORDER BY cos_to_centroid
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumc
        FROM pv),
nl AS (SELECT label, count(*) AS n FROM scored GROUP BY label),
thr AS (SELECT cum.label, max(cos_to_centroid) AS thr
        FROM cum JOIN nl USING (label)
        WHERE cumc <= ceil({OUTLIER_FRAC} * n)
        GROUP BY cum.label)
SELECT s.vec_id, s.label, s.cos_to_centroid,
       (t.thr IS NOT NULL AND s.cos_to_centroid <= t.thr) AS is_outlier
FROM scored s LEFT JOIN thr t USING (label)
"""


# Lloyd iterations per PQ subspace. Bench default and the dominant cost of
# `emb_knn_pq_trained` (the suite's slowest query): each iteration runs one
# assign+mean pass over all PQ_M subspaces (~1.2 s/iter at sf0.1 local[32]).
# Distortion is non-increasing in this count (pytest-asserted); iters=0
# degenerates to the untrained take-first-k codebook.
PQ_TRAIN_ITERS = 2


def _trained_pq_codebook(spark: SparkSession, sf_dir: str,
                         iters: int) -> DataFrame:
    """Trained PQ codebook, materialized once per (session, sf_dir,
    iters) — same artifact semantics as ``_trained_centroids``."""
    def build():
        cb = similarity.train_pq_codebook(
            load_table(spark, sf_dir, "embeddings"), EMB_DIM, PQ_M,
            PQ_NCENT, iters)
        return [(int(r["cid"]), [float(x) for x in r["cvec"]])
                for r in cb.collect()]
    rows = _memo(spark, ("pq_codebook", sf_dir, PQ_M, PQ_NCENT, iters),
                 "embeddings", build)
    return spark.createDataFrame(rows, "cid int, cvec array<double>")


def _trained_pq_recon(spark: SparkSession, sf_dir: str,
                      iters: int) -> DataFrame:
    """PQ-encoded-and-reconstructed corpus under the trained codebook,
    localCheckpointed once per (session, sf_dir, iters) — the
    production INDEX table: codes are written at ingest, not re-encoded
    per query, so repeated searches pay only the LUT/scoring scan."""
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        cb = _trained_pq_codebook(spark, sf_dir, iters)
        return materialize(similarity.pq_reconstruct(
            similarity.pq_codes(emb, cb, EMB_DIM, PQ_M),
            cb, EMB_DIM, PQ_M), "eager")
    return _memo(spark, ("pq_recon", sf_dir, PQ_M, PQ_NCENT, iters),
                 "embeddings", build)


def q_emb_knn_pq_trained(spark: SparkSession, sf_dir: str,
                         iters: int = PQ_TRAIN_ITERS) -> DataFrame:
    """Compressed-domain kNN over a per-subspace-k-means-TRAINED PQ
    codebook. Oracle-checked since round 5: with order-free decimal
    training means (rounded 6 dp) the FIXED iteration count unrolls
    into SQL CTEs — one argmin-assign + per-subspace mean +
    carry-forward round per iteration (the unbounded-iteration form
    stays SQL-inexpressible). Distortion monotonicity vs the untrained
    codebook AND in ``iters`` remains pytest-asserted
    (operators/similarity.py:train_pq_codebook). Round 8: the
    encoded+reconstructed corpus is the session-keyed
    ``_trained_pq_recon`` artifact, so repeated searches skip the
    re-encode pass (codebooks AND codes are materialized artifacts in
    production; values unchanged)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_pq_trained(
        emb, queries, PQ_K, EMB_DIM, PQ_M, PQ_NCENT, iters,
        recon_corpus=_trained_pq_recon(spark, sf_dir, iters))


def _oracle_knn_pq_trained() -> str:
    """PQ_TRAIN_ITERS per-subspace Lloyd iterations unrolled as SQL —
    byte-parity with ``train_pq_codebook``: seeds are the first PQ_NCENT
    vectors' subvectors; each round assigns by per-subspace squared-L2
    argmin (lexicographic [dist, cid] — min_by's struct key), means are
    decimal(25,12) sums / count rounded to 6 per (subspace, code, dim),
    and empty (subspace, code) cells carry the previous slice."""
    m, n_cent, iters = PQ_M, PQ_NCENT, PQ_TRAIN_ITERS
    subdim = EMB_DIM // m

    def dist_exprs(cb: str) -> str:
        out = []
        for j in range(m):
            off = j * subdim
            diff = (f"list_transform(range(1, {subdim + 1}), "
                    f"i -> a.v[{off} + i] - c.cv[{off} + i])")
            out.append(f"list_dot_product({diff}, {diff}) AS d{j}")
        return ", ".join(out)

    argmins = ", ".join(
        f"(min([d{j}, cid::DOUBLE]))[2]::INT AS c{j}" for j in range(m))
    # AS MATERIALIZED on every chained CTE: without it DuckDB inlines
    # each reference, and the m per-subspace mean CTEs re-expand the
    # whole preceding iteration chain — measured 120 s vs ~2 s at sf0.01
    ctes = [
        "allv AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) "
        "AS v FROM embeddings)",
        f"cb0 AS MATERIALIZED (SELECT vec_id::INT AS cid, v AS cv FROM allv "
        f"WHERE vec_id < {n_cent})",
    ]
    for i in range(iters):
        ctes.append(f"""p{i} AS MATERIALIZED (
  SELECT a.vec_id, c.cid, {dist_exprs(f'cb{i}')}
  FROM allv a, cb{i} c)""")
        ctes.append(f"""k{i} AS MATERIALIZED (
  SELECT vec_id, {argmins} FROM p{i} GROUP BY vec_id)""")
        slice_parts = []
        for j in range(m):
            off = j * subdim
            ctes.append(f"""mm{i}_{j} AS (
  SELECT k.c{j} AS cid, t.p AS pos,
         round((sum(a.v[{off} + t.p + 1]::DECIMAL(25,12)))::DOUBLE
               / count(*), 6) AS m
  FROM k{i} k JOIN allv a USING (vec_id)
  CROSS JOIN range(0, {subdim}) t(p)
  GROUP BY 1, 2)""")
            ctes.append(f"""ns{i}_{j} AS (
  SELECT cid, list(m ORDER BY pos) AS sv FROM mm{i}_{j} GROUP BY cid)""")
            slice_parts.append(
                f"coalesce(n{j}.sv, p.cv[{off + 1}:{off + subdim}])")
        joins = "\n  ".join(
            f"LEFT JOIN ns{i}_{j} n{j} ON n{j}.cid = p.cid"
            for j in range(m))
        concat = " || ".join(slice_parts)
        ctes.append(f"""cb{i + 1} AS MATERIALIZED (
  SELECT p.cid, {concat} AS cv
  FROM cb{i} p
  {joins})""")
    # serve: codes against the trained codebook, reconstruct, brute kNN
    ctes.append(f"""pf AS (
  SELECT a.vec_id, c.cid, {dist_exprs(f'cb{iters}')}
  FROM allv a, cb{iters} c)""")
    ctes.append(f"kf AS (SELECT vec_id, {argmins} FROM pf GROUP BY vec_id)")
    rjoins = "\n  ".join(
        f"JOIN cb{iters} e{j} ON e{j}.cid = k.c{j}" for j in range(m))
    rconcat = " || ".join(
        f"e{j}.cv[{j * subdim + 1}:{(j + 1) * subdim}]" for j in range(m))
    body = ",\n".join(ctes)
    return rf"""
WITH {body},
recon AS (
  SELECT k.vec_id, {rconcat} AS cv
  FROM kf k
  {rjoins}
),
q AS (SELECT vec_id AS query_id, v AS qv FROM allv
      WHERE vec_id < {KNN_QUERY_MAX_ID}),
c2 AS (SELECT vec_id AS neighbor_id, cv FROM recon),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, c2.cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(c2.cv, c2.cv))) AS cos_raw
  FROM q, c2 WHERE neighbor_id != query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos_sim, rank::INT AS rank
FROM ranked WHERE rank <= {PQ_K}
"""


def q_emb_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (FAISS IndexIVFPQ shape): coarse-quantizer
    pruning × PQ compression, asymmetric scoring
    (operators/similarity.py:knn_ivfpq). Reads the shared
    ``_untrained_pq_recon`` index artifact (round 8)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    centroids = (emb.filter(F.col("vec_id") < IVF_CENTROID_MAX_ID)
                 .select(F.col("vec_id").alias("centroid_id"), "embedding"))
    return similarity.knn_ivfpq(
        emb, queries, centroids, IVF_K, EMB_DIM, PQ_M, PQ_NCENT,
        recon_corpus=_untrained_pq_recon(spark, sf_dir))


def _oracle_ann_ivfpq() -> str:
    subdim = EMB_DIM // PQ_M
    joins = "\n  ".join(
        f"JOIN cent e{j} ON e{j}.cid = k.c{j}" for j in range(PQ_M))
    concat = " || ".join(
        f"e{j}.c[{j * subdim + 1}:{(j + 1) * subdim}]" for j in range(PQ_M))
    return rf"""
WITH {_pq_cte()},
recon AS (
  SELECT k.vec_id, {concat} AS cv
  FROM codes k
  {joins}
),
icent AS (SELECT vec_id AS centroid_id, v AS cent_v FROM v
          WHERE vec_id < {IVF_CENTROID_MAX_ID}),
sa AS (
  SELECT a.vec_id, c.centroid_id,
         list_dot_product(a.v, c.cent_v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(c.cent_v, c.cent_v))) AS cs
  FROM v a, icent c
),
assigned AS (
  SELECT vec_id, centroid_id AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, centroid_id) AS rn
        FROM sa)
  WHERE rn = 1
),
q AS (SELECT a.vec_id AS query_id, x.v AS qv, a.bucket
      FROM assigned a JOIN v x USING (vec_id)
      WHERE a.vec_id < {KNN_QUERY_MAX_ID}),
c2 AS (SELECT r.vec_id AS neighbor_id, r.cv, a.bucket
       FROM recon r JOIN assigned a USING (vec_id)),
scored AS (
  SELECT query_id, neighbor_id, q.bucket,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cos_raw
  FROM c2 JOIN q USING (bucket)
  WHERE neighbor_id != query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, bucket, round(cos_raw, 6) AS cos_sim,
       rank::INT AS rank
FROM ranked WHERE rank <= {IVF_K}
"""


RESIZE_W, RESIZE_H = 24, 16  # 48-byte fake payload → exercises 2 md5 blocks


def q_multimodal_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over the media table (binary in → binary out via
    mapInPandas; decode faked deterministically — Pillow absent). The
    driver projection md5s the output payload rather than shipping the
    binary column through the value-hash gate (no binary precedent), the
    same convention `multimodal_features` set."""
    from ..operators.multimodal import resize_images
    docs = load_table(spark, sf_dir, "documents")
    out = resize_images(to_media_table(docs), RESIZE_W, RESIZE_H)
    return out.select(
        "doc_id", F.md5(F.col("payload")).alias("resized_md5"),
        "width", "height", "n_bytes")


def _oracle_multimodal_resized() -> str:
    n_out = max(1, RESIZE_W * RESIZE_H // 8)
    n_blocks = -(-n_out // 32)  # each md5 hex block is 32 chars
    stream = " || ".join(f"md5(seed || '|{i}')" for i in range(n_blocks))
    return rf"""
WITH p AS (SELECT doc_id,
                  md5(text || '|{RESIZE_W}x{RESIZE_H}') AS seed
           FROM documents),
o AS (SELECT doc_id, substr({stream}, 1, {n_out}) AS s FROM p)
SELECT doc_id, md5(s) AS resized_md5,
       {RESIZE_W} AS width, {RESIZE_H} AS height, {n_out} AS n_bytes
FROM o
"""


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + metadata struct + Arrow-batched feature extraction
    (decode stubbed — see operators/multimodal.py). The one deliberately
    Python-touching query: media decode is inherently library code, and
    mapInPandas is the right Spark shape for it."""
    docs = load_table(spark, sf_dir, "documents")
    media = to_media_table(docs)
    return extract_features(media)


ORACLE_MULTIMODAL = """
SELECT doc_id,
       octet_length(encode(text))::INT AS n_bytes,
       md5(text) AS payload_md5,
       (octet_length(encode(text)) % 7)::INT AS fake_frames
FROM documents
"""


def q_docs_gzip_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-text-lake decode (round 8): the corpus stored as real
    gzip members (deterministic stdlib encoder, MTIME=0 framing —
    operators/multimodal.py:synth_gzip_table, the ingest simulation)
    is inflated and measured in ONE pass — length, token count, raw
    bytes, md5 of the round-tripped text (multimodal.py:
    gzip_text_features). Every output column derives from the DECODED
    bytes, so the oracle (same measures straight off the uncompressed
    source column) hash-fails on any inflate defect — the same
    round-trip-vs-closed-form contract as the PNG codec family. This
    mirrors the WARC/WET/.jsonl.gz reality of training-data lakes
    where decompression is part of every measurement pass."""
    from ..operators.multimodal import gzip_text_features, synth_gzip_table
    docs = load_table(spark, sf_dir, "documents")
    return gzip_text_features(synth_gzip_table(docs))


ORACLE_GZIP_DECODE = r"""
SELECT doc_id, len(text)::BIGINT AS n_chars,
       len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
       octet_length(encode(text))::BIGINT AS n_bytes_raw,
       md5(text) AS text_md5
FROM documents
"""


def q_multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode (round 7): per-doc deterministic RGB pixels are
    zlib-deflate-encoded into genuine PNG bytes with the scanline
    filter rotating through all five types (operators/multimodal.py:
    synth_png_table), then decoded back — inflate + Sub/Up/Average/
    Paeth reconstruction — into exact integer channel sums. The oracle
    regenerates the sums from the closed-form pixel formula over a
    generate_series grid, so a decode that mis-applies ANY filter
    hash-mismatches. Row-local mapInPandas both ways, no shuffle —
    the image family is now two-format (BMP uncompressed, PNG
    compressed) without Pillow."""
    from ..operators.multimodal import png_features, synth_png_table
    docs = load_table(spark, sf_dir, "documents")
    return png_features(synth_png_table(docs))


def _oracle_png_features() -> str:
    from ..operators.multimodal import PNG_H, PNG_W
    return f"""
SELECT d.doc_id, {PNG_W} AS width, {PNG_H} AS height,
       sum((d.doc_id * 31 + y.y * 7 + x.x * 3) % 256)::BIGINT AS sum_r,
       sum((d.doc_id * 17 + y.y * 5 + x.x * 11) % 256)::BIGINT AS sum_g,
       sum((d.doc_id * 13 + y.y * 3 + x.x * 7) % 256)::BIGINT AS sum_b
FROM documents d,
     generate_series(0, {PNG_H - 1}) y(y),
     generate_series(0, {PNG_W - 1}) x(x)
GROUP BY d.doc_id
"""


PNG_RESIZE_W, PNG_RESIZE_H = 8, 6


def q_multimodal_png_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG codec round trip under one query (round 7): real PNG decode
    → nearest-neighbor resample → PNG re-encode → decode AGAIN →
    channel sums of the resized image. The oracle evaluates the
    closed-form pixel formula at the resampled source coordinates
    (sx = x·W div TW, sy = y·H div TH), so a defect anywhere in
    inflate, filter reconstruction, resampling, or deflate-encode
    hash-mismatches."""
    from ..operators.multimodal import png_resize_features, synth_png_table
    docs = load_table(spark, sf_dir, "documents")
    return png_resize_features(synth_png_table(docs),
                               PNG_RESIZE_W, PNG_RESIZE_H)


def _oracle_png_resized() -> str:
    from ..operators.multimodal import PNG_H, PNG_W
    sy = f"((y.y * {PNG_H}) // {PNG_RESIZE_H})"
    sx = f"((x.x * {PNG_W}) // {PNG_RESIZE_W})"
    return f"""
SELECT d.doc_id, {PNG_RESIZE_W} AS width, {PNG_RESIZE_H} AS height,
       sum((d.doc_id * 31 + {sy} * 7 + {sx} * 3) % 256)::BIGINT AS sum_r,
       sum((d.doc_id * 17 + {sy} * 5 + {sx} * 11) % 256)::BIGINT AS sum_g,
       sum((d.doc_id * 13 + {sy} * 3 + {sx} * 7) % 256)::BIGINT AS sum_b
FROM documents d,
     generate_series(0, {PNG_RESIZE_H - 1}) y(y),
     generate_series(0, {PNG_RESIZE_W - 1}) x(x)
GROUP BY d.doc_id
"""


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end audio path: per document, a deterministic 16-bit
    PCM clip is stdlib-WAV-encoded, then DECODED back from the RIFF
    bytes and reduced to triage features (duration/RMS/peak — the
    silence/clipping gates an audio pipeline filters on). The oracle
    regenerates the same integer signal from its closed formula and
    computes the features directly — a hash match therefore proves the
    encode → decode roundtrip is lossless AND the feature math agrees
    bit-for-bit (integer sums of squares are exact; one sqrt; rounding
    happens plan-side, never in python). Row-local mapInPandas ×2, no
    shuffle. operators/multimodal.py:synth_wav_table/audio_features."""
    from ..operators.multimodal import audio_features, synth_wav_table

    docs = load_table(spark, sf_dir, "documents")
    feats = audio_features(synth_wav_table(docs))
    return feats.select(
        "doc_id", "sample_rate", "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"), "peak")


FRAME_EVERY = 2


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end frame sampling: per document a 3-frame
    concatenated-BMP clip is synthesized, its frame boundaries are
    DEMUXED from each frame's declared BMP size, every 2nd frame is
    pixel-decoded (skipped frames are never decoded — sampling exists
    to cut decode cost) and reduced to its RGB sum. The oracle
    regenerates the sampled frames' pixels from the integer formula, so
    a hash match proves demux + decode + sampling all preserve the
    signal. Compressed video keeps the honest pyav stub.
    operators/multimodal.py:synth_video_table/sample_container_frames."""
    from ..operators.multimodal import (
        sample_container_frames, synth_video_table)

    docs = load_table(spark, sf_dir, "documents")
    return sample_container_frames(synth_video_table(docs), FRAME_EVERY)


def _oracle_frame_sample() -> str:
    from ..operators.multimodal import FRAME_H, FRAME_W, VIDEO_FRAMES
    sampled = list(range(0, VIDEO_FRAMES, FRAME_EVERY))
    return f"""
WITH fr AS (SELECT doc_id, unnest({sampled}) AS frame_idx FROM documents),
py AS (SELECT doc_id, frame_idx, unnest(range(0, {FRAME_H})) AS y FROM fr),
pxy AS (SELECT doc_id, frame_idx, y, unnest(range(0, {FRAME_W})) AS x
        FROM py),
v AS (SELECT doc_id, frame_idx,
             ((doc_id * 7 + frame_idx * 13 + y * 2 + x) % 256) AS v
      FROM pxy)
SELECT doc_id, frame_idx::INT AS frame_idx,
       {FRAME_W} AS width, {FRAME_H} AS height,
       sum(v + ((v + 1) % 256) + ((v + 2) % 256))::BIGINT AS pixel_sum
FROM v GROUP BY doc_id, frame_idx
"""


def q_multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode (round 8): per-doc block-constant
    grayscale pixels are Huffman-entropy-encoded into genuine JFIF
    bytes (Annex K tables, operators/jpegcodec.py), then decoded back —
    marker parse, canonical Huffman decode with byte-stuffing, dequant,
    numpy IDCT — into exact integer gray sums. Block-constant content
    with DC quant step 8 makes the LOSSY codec bit-exact (all AC
    coefficients are exactly zero; quantised DC = v-128), so the oracle
    regenerates the sums from the closed-form block formula while the
    decoder stays fully general (random-image unit tests cover the AC /
    run-length / restart paths). The image family is now three-format:
    BMP uncompressed, PNG deflate, JPEG transform-coded — all without
    Pillow. Row-local mapInPandas both ways, no shuffle."""
    from ..operators.multimodal import jpeg_features, synth_jpeg_table
    docs = load_table(spark, sf_dir, "documents")
    return jpeg_features(synth_jpeg_table(docs))


def _oracle_jpeg_features() -> str:
    from ..operators.multimodal import JPEG_H, JPEG_W
    return f"""
SELECT d.doc_id, {JPEG_W} AS width, {JPEG_H} AS height,
       sum(64 * ((d.doc_id * 37 + by.by * 11 + bx.bx * 5) % 256))::BIGINT
           AS sum_gray
FROM documents d,
     generate_series(0, {JPEG_H // 8 - 1}) by(by),
     generate_series(0, {JPEG_W // 8 - 1}) bx(bx)
GROUP BY d.doc_id
"""


def q_multimodal_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG frame sampling (round 8): each doc's clip is 3 concatenated
    baseline JPEG frames; the demux WALKS the marker structure (segment
    lengths + entropy-segment stuffing rules — a 0xFFD9 byte pair inside
    a table can never split a frame early), keeps every 2nd frame, and
    entropy-decodes ONLY the kept frames. Pairs with the concatenated-
    BMP container to make the video path two-codec; inter-frame formats
    (h264/vp9) keep the honest pyav seam.
    operators/multimodal.py:synth_mjpeg_table/mjpeg_frame_features."""
    from ..operators.multimodal import mjpeg_frame_features, synth_mjpeg_table
    docs = load_table(spark, sf_dir, "documents")
    return mjpeg_frame_features(synth_mjpeg_table(docs), FRAME_EVERY)


def _oracle_mjpeg_frames() -> str:
    from ..operators.multimodal import JPEG_H, JPEG_W, MJPEG_FRAMES
    sampled = list(range(0, MJPEG_FRAMES, FRAME_EVERY))
    return f"""
WITH fr AS (SELECT doc_id, unnest({sampled}) AS frame_idx FROM documents),
b AS (SELECT doc_id, frame_idx,
             unnest(range(0, {JPEG_H // 8})) AS by FROM fr),
bb AS (SELECT doc_id, frame_idx, by,
              unnest(range(0, {JPEG_W // 8})) AS bx FROM b)
SELECT doc_id, frame_idx::INT AS frame_idx,
       {JPEG_W} AS width, {JPEG_H} AS height,
       sum(64 * ((doc_id * 37 + frame_idx * 19 + by * 11 + bx * 5)
                 % 256))::BIGINT AS sum_gray
FROM bb GROUP BY doc_id, frame_idx
"""


def _oracle_audio_features() -> str:
    from ..operators.multimodal import AUDIO_RATE, AUDIO_SAMPLES
    return f"""
WITH s AS (SELECT doc_id, unnest(range(0, {AUDIO_SAMPLES})) AS i
           FROM documents),
v AS (SELECT doc_id, ((doc_id * 31 + i * 17) % 65536) - 32768 AS x FROM s)
SELECT doc_id, {AUDIO_RATE} AS sample_rate,
       count(*)::BIGINT AS n_samples,
       round(count(*) / {float(AUDIO_RATE)}, 6) AS duration_s,
       round(sqrt(sum(x * x) / count(*)), 6) AS rms,
       max(abs(x))::BIGINT AS peak
FROM v GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Deterministic split assignment + random-projection reduction
# --------------------------------------------------------------------------

SPLIT_SPEC = (("train", 0.90), ("val", 0.05), ("test", 0.05))
SPLIT_SALT = "split0"


def q_docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment as a pure row function (hash-threshold
    ladder, operators/sampling.py:split_assign): stable under engine, run,
    repartition, and corpus growth — the property a rank-based split
    cannot give. Row-local, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return (sampling.split_assign(docs, SPLIT_SPEC, salt=SPLIT_SALT)
            .select("doc_id", "lang", "source", "split"))


def _oracle_split_assign() -> str:
    from ..operators.sampling import SAMPLE_BUCKETS
    cum, cases = 0.0, []
    for name, rate in SPLIT_SPEC:
        cum += rate
        cases.append(
            f"WHEN ('0x' || substr(md5(doc_id || '|{SPLIT_SALT}'), 1, 12))"
            f"::BIGINT % {SAMPLE_BUCKETS}"
            f" < {int(round(cum * SAMPLE_BUCKETS))} THEN '{name}'")
    ladder = "\n            ".join(cases)
    return f"""
SELECT doc_id, lang, source,
       CASE {ladder}
       END AS split
FROM documents
"""


def q_docs_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: every verified near-dup pair labeled with
    BOTH members' train/val/test assignment, counted per (split_a,
    split_b) cell with a leakage flag on the off-diagonal — the
    check a curation pipeline runs before shipping an eval split (a
    train↔test near-dup pair is memorization leakage; the group-aware
    split exists precisely to zero this table's off-diagonal for the
    grouped key). Consumes the shared ``_full_pairs`` artifact and the
    row-local split ladder, so the whole audit costs two broadcast
    joins of the tiny pair set plus one hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    splits = (sampling.split_assign(docs, SPLIT_SPEC, salt=SPLIT_SALT)
              .select("doc_id", "split"))
    pairs = _full_pairs(spark, sf_dir)
    a = splits.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("split_a"))
    b = splits.select(F.col("doc_id").alias("doc_b"),
                      F.col("split").alias("split_b"))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("is_leakage", F.col("split_a") != F.col("split_b"))
    )


def _oracle_split_leakage() -> str:
    from ..operators.sampling import SAMPLE_BUCKETS
    cum, cases = 0.0, []
    for name, rate in SPLIT_SPEC:
        cum += rate
        cases.append(
            f"WHEN ('0x' || substr(md5(d || '|{SPLIT_SALT}'), 1, 12))"
            f"::BIGINT % {SAMPLE_BUCKETS}"
            f" < {int(round(cum * SAMPLE_BUCKETS))} THEN '{name}'")
    ladder = " ".join(cases)
    return rf"""
WITH pairs AS ({_oracle_near_dup()}),
sa AS (SELECT doc_a, doc_b,
              CASE {ladder.replace('(d ', '(doc_a ')} END AS split_a,
              CASE {ladder.replace('(d ', '(doc_b ')} END AS split_b
       FROM pairs)
SELECT split_a, split_b, count(*) AS n_pairs,
       split_a <> split_b AS is_leakage
FROM sa GROUP BY 1, 2
"""


WS_N = 120
WS_SALT = "ws0"


def q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis–
    Spirakis A-ES keyed on md5-derived u, weight = n_chars) — 'sample
    documents proportional to length' as one row-local key + TakeOrdered
    (operators/sampling.py:weighted_sample_n)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_sample_n(docs, WS_N, "n_chars", salt=WS_SALT)


def _oracle_weighted_sample() -> str:
    denom = float(2 ** 48 + 1)
    return f"""
SELECT doc_id, text, lang, source, n_chars
FROM (
  SELECT d.*,
         round(ln((('0x' || substr(md5(doc_id || '|{WS_SALT}'), 1, 12))::BIGINT
             + 1.0) / {denom}) / n_chars, 12) AS k
  FROM documents d WHERE n_chars > 0
  ORDER BY k DESC, doc_id
  LIMIT {WS_N})
"""


GROUP_SPLIT_SALT = "gsplit0"


def q_docs_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe GROUP-AWARE train/val/test split: the hash ladder
    keys on ``source`` instead of ``doc_id``, so every document from one
    source lands in the same split — near-duplicates within a source can
    never straddle train/test (the contamination mode a row-wise split
    invites). Same row-local zero-shuffle shape as `docs_split_assign`
    (operators/sampling.py:split_assign with id_col='source')."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.split_assign(
        docs.select("doc_id", "lang", "source"),
        id_col="source", salt=GROUP_SPLIT_SALT)


def _oracle_split_by_source() -> str:
    from ..operators.sampling import SAMPLE_BUCKETS
    cum, cases = 0.0, []
    for name, rate in SPLIT_SPEC:
        cum += rate
        cases.append(
            f"WHEN ('0x' || substr(md5(source || '|{GROUP_SPLIT_SALT}'), 1, 12))"
            f"::BIGINT % {SAMPLE_BUCKETS}"
            f" < {int(round(cum * SAMPLE_BUCKETS))} THEN '{name}'")
    ladder = "\n            ".join(cases)
    return f"""
SELECT doc_id, lang, source,
       CASE {ladder}
       END AS split
FROM documents
"""


def q_emb_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup of the embedding corpus: cosine near-dup pairs
    (IVF-bucketed, never all-pairs) → connected components → min-id
    canonical survives — the embedding-space twin of `docs_dedup_keep`
    (SemDeDup-style, with exact bucketed cosine instead of cluster
    sampling). Reuses the hash-green pair chain and the
    min-label-propagation operator unchanged
    (operators/similarity.py:cosine_near_dup_pairs +
    operators/neardup.py:dup_clusters/keep_canonical). Round 6: the
    pair chain buckets on TRAINED centroids (same Lloyd loop as
    ``emb_ann_ivf_trained``) for bucket balance at scale, and consumes
    the shared ``_cosine_pairs`` score artifact; round 8 also caches
    the component LABELS (``_emb_dup_clusters``) — the iterative
    min-label loop is the query's dominant cost and its output is a
    deterministic function of the cached pair set, the same
    label-table-is-an-artifact shape as ``_full_clusters`` on the
    text side."""
    emb = load_table(spark, sf_dir, "embeddings")
    return neardup.keep_canonical(
        emb.select("vec_id", "label"),
        _emb_dup_clusters(spark, sf_dir), id_col="vec_id")


def _emb_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster_id, is_canonical) over the cosine near-dup
    graph, localCheckpointed once per (session, sf_dir)."""
    def build():
        pairs = similarity.cosine_near_dup_pairs(
            load_table(spark, sf_dir, "embeddings"),
            _trained_centroids(spark, sf_dir), COSINE_DUP_THRESHOLD,
            pair_scores=_cosine_pairs(spark, sf_dir))
        return materialize(neardup.dup_clusters(pairs, src="id_a", dst="id_b")
                           .withColumnRenamed("doc_id", "vec_id"), "eager")
    return _memo(spark, ("emb_clusters", sf_dir, COSINE_DUP_THRESHOLD),
                 "embeddings", build)


def _oracle_emb_dedup_keep() -> str:
    return rf"""
WITH RECURSIVE pairs AS MATERIALIZED ({ORACLE_COSINE_NEAR_DUP}),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
clust AS (SELECT u AS vec_id, least(u, min(v)) AS cluster_id,
                 u = least(u, min(v)) AS is_canonical
          FROM reach GROUP BY u)
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM clust WHERE NOT is_canonical)
"""


RP_DIM = 8   # 64 → 8: the JL-style reduction front end for cheap ANN


def q_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (64 → 8 dims) with
    md5-derived fixed weights — row-local, zero shuffles; the oracle
    rebuilds the identical weights and folds (list_dot_product) so the
    doubles match bit-for-bit before the display round."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.random_projection(emb, RP_DIM, EMB_DIM)


def _oracle_random_projection() -> str:
    wlist = ("list_transform(range(0, len(v)), d -> "
             "(('0x' || substr(md5('rp|' || {j} || '|' || d), 1, 12))::BIGINT"
             f" / {float(2 ** 48)} - 0.5))")
    cols = ",\n       ".join(
        f"round(list_dot_product(v, {wlist.format(j=j)}), 9) AS p{j}"
        for j in range(RP_DIM))
    return f"""
SELECT vec_id,
       {cols}
FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
"""


# Per-source frequency cap (RefinedWeb-style "domain cap"): keep at most
# DOMAIN_CAP docs per source, longest-first. n_chars is the quality proxy
# here (the synthetic corpus has no URL column; `source` is the domain
# analog) — in production swap order_col for the Gopher quality score.
DOMAIN_CAP = 40


def q_docs_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency cap — operators/sampling.py:cap_per_group,
    skew-safe form (round 7): partial-agg counts route already-under-cap
    sources past the cap-pruning, and over-cap sources pre-prune through
    a salted local top-cap so no rank window ever holds more than
    cap·n_salts rows of one group — a hot domain can no longer pin a
    single task. Deterministic keep set (n_chars DESC, doc_id ASC),
    bit-identical to the single-window semantic spec."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.cap_per_group(docs, "source", DOMAIN_CAP,
                               order_col="n_chars", id_col="doc_id")
        .select("doc_id", "source", "n_chars", "cap_rank")
    )


def _oracle_domain_cap() -> str:
    return f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, n_chars, rk::INT AS cap_rank
FROM ranked WHERE rk <= {DOMAIN_CAP}
"""


def q_emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall@k of the IVF index against the
    brute-force ground truth — THE metric an ANN deployment is tuned by
    (probe count, bucket count, quantizer training all trade recall for
    scan bytes; this query is the feedback loop).

    Both sides are existing hash-green queries re-used at the same k:
    ground truth = exact cosine top-IVF_K, candidate = the one-probe IVF
    top-IVF_K. Per query: |ANN ∩ truth| / k.

    Scale shape: the expensive inputs are the two kNN queries themselves
    (each already 100 TB-shaped); the comparison is a join on
    (query_id, neighbor_id) between two k×|queries| result sets — tiny by
    construction — then a partial-agg count. In production the ground
    truth runs on a SAMPLE of queries (recall estimation doesn't need
    every query); the full-query form here keeps the oracle exact.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    truth = (_bf_truth(spark, sf_dir).filter(F.col("rank") <= IVF_K)
             .select("query_id", "neighbor_id", F.lit(1).alias("__hit")))
    centroids = (emb.filter(F.col("vec_id") < IVF_CENTROID_MAX_ID)
                 .select(F.col("vec_id").alias("centroid_id"), "embedding"))
    ann = similarity.knn_ivf(emb, queries_df, centroids, IVF_K)
    return (
        ann.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_ann"),
             F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"))
        .select("query_id",
                F.col("n_ann").cast("bigint").alias("n_ann"),
                F.col("n_hits").cast("bigint").alias("n_hits"),
                F.round(F.col("n_hits") / F.lit(float(IVF_K)), 6)
                .alias("recall_at_k"))
    )


def q_emb_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k for the COMPRESSED tiers — the same index-quality
    feedback loop ``emb_ann_recall`` gives the IVF index, extended to
    all three PQ variants (r8 verdict directive #4): per (tier, query),
    |tier top-k ∩ brute-force top-k| / k for the untrained-codebook PQ
    scan, the IVF-PQ composition, and the k-means-trained PQ scan. One
    k-bounded overlap join per tier against a single shared truth set
    (PQ_K == IVF_K == 5, asserted), so the whole evaluation is three
    k×|queries| joins plus a partial-agg count — the tier queries
    themselves read the session index artifacts and stay the only
    expensive inputs."""
    assert PQ_K == IVF_K, "tiers share one truth set only if ks match"
    truth = (_bf_truth(spark, sf_dir).filter(F.col("rank") <= PQ_K)
             .select("query_id", "neighbor_id", F.lit(1).alias("__hit")))
    tiers = (("ivfpq", q_emb_ann_ivfpq),
             ("pq", q_emb_knn_pq),
             ("pq_trained", q_emb_knn_pq_trained))
    ann = None
    for tier, fn in tiers:
        t = fn(spark, sf_dir).select(
            F.lit(tier).alias("tier"), "query_id", "neighbor_id")
        ann = t if ann is None else ann.unionAll(t)
    return (
        ann.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("tier", "query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ann"),
             F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
             .cast("bigint").alias("n_hits"))
        .withColumn("recall_at_k",
                    F.round(F.col("n_hits") / F.lit(float(PQ_K)), 6))
    )


def _oracle_pq_recall() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {_DUCK_COS} DESC, neighbor_id) AS rank
    FROM q, c WHERE neighbor_id != query_id)
  WHERE rank <= {PQ_K}
),
ann AS (
  SELECT 'ivfpq' AS tier, query_id, neighbor_id
  FROM ({_oracle_ann_ivfpq()})
  UNION ALL
  SELECT 'pq', query_id, neighbor_id FROM ({_oracle_knn_pq()})
  UNION ALL
  SELECT 'pq_trained', query_id, neighbor_id
  FROM ({_oracle_knn_pq_trained()})
)
SELECT ann.tier, ann.query_id,
       count(*)::BIGINT AS n_ann,
       sum(CASE WHEN truth.neighbor_id IS NULL THEN 0 ELSE 1 END)::BIGINT
         AS n_hits,
       round(sum(CASE WHEN truth.neighbor_id IS NULL THEN 0 ELSE 1 END)
             / {float(PQ_K)}, 6) AS recall_at_k
FROM ann LEFT JOIN truth USING (query_id, neighbor_id)
GROUP BY ann.tier, ann.query_id
"""


def q_emb_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k for the binary sign-sketch funnel — the same
    index-quality feedback the IVF/PQ tiers get, closing the recall
    story for every ANN tier in the engine: per query,
    |funnel top-k ∩ brute-force top-k| / k at the funnel's own
    k=KNN_K. Because stage 2 rescores EXACTLY, recall < 1 only when a
    true neighbor missed the Hamming shortlist — this readout measures
    the 128×-compression coarse pass alone, which is what a deployment
    tunes n_candidates against. One k-bounded overlap join + partial
    agg; the funnel and truth are the only expensive inputs."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    truth = (_bf_truth(spark, sf_dir)
             .select("query_id", "neighbor_id", F.lit(1).alias("__hit")))
    ann = similarity.knn_hamming_rerank(
        emb, queries_df, KNN_K, RERANK_C).select("query_id", "neighbor_id")
    return (
        ann.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ann"),
             F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
             .cast("bigint").alias("n_hits"))
        .withColumn("recall_at_k",
                    F.round(F.col("n_hits") / F.lit(float(KNN_K)), 6))
    )


def _oracle_hamming_recall() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {_DUCK_COS} DESC, neighbor_id) AS rank
    FROM q, c WHERE neighbor_id != query_id)
  WHERE rank <= {KNN_K}
),
ann AS (
  SELECT query_id, neighbor_id FROM ({_oracle_knn_hamming_rerank()})
)
SELECT ann.query_id,
       count(*)::BIGINT AS n_ann,
       sum(CASE WHEN truth.neighbor_id IS NULL THEN 0 ELSE 1 END)::BIGINT
         AS n_hits,
       round(sum(CASE WHEN truth.neighbor_id IS NULL THEN 0 ELSE 1 END)
             / {float(KNN_K)}, 6) AS recall_at_k
FROM ann LEFT JOIN truth USING (query_id, neighbor_id)
GROUP BY ann.query_id
"""


MATRYOSHKA_DIMS = (32, 16, 8)


def q_emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation tradeoff (Kusupati et al. 2022): for
    each prefix dimensionality (32/16/8 of 64), recall@k of brute-force
    search over the TRUNCATED vectors vs the full-dimension truth — the
    readout that decides how many leading dimensions a cheap first-pass
    index can keep (truncation is the zero-compute cousin of the
    PCA/random-projection reducers already in the family, and the
    storage story compounds with the int8/PQ/binary tiers).

    Scale shape: truncation is a row-local ``slice``; each tier is the
    same broadcast-queries brute-force scan reading d/64 of the vector
    bytes; one k-bounded overlap join per tier + a partial-agg count.
    On these STRUCTURELESS synthetic embeddings prefix dims carry no
    privileged variance (unlike MRL-trained embeddings), so measured
    recall here is the floor a trained embedding would beat."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = (_bf_truth(spark, sf_dir)
             .select("query_id", "neighbor_id", F.lit(1).alias("__hit")))
    ann = None
    for d in MATRYOSHKA_DIMS:
        tc = emb.select("vec_id",
                        F.slice("embedding", 1, d).alias("embedding"))
        tq = tc.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
        t = (similarity.knn_bruteforce(tc, tq, KNN_K)
             .select(F.lit(d).alias("dim"), "query_id", "neighbor_id"))
        ann = t if ann is None else ann.unionAll(t)
    return (
        ann.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("dim", "query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ann"),
             F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
             .cast("bigint").alias("n_hits"))
        .withColumn("recall_at_k",
                    F.round(F.col("n_hits") / F.lit(float(KNN_K)), 6))
    )


def _oracle_matryoshka_recall() -> str:
    tiers = "\nUNION ALL\n".join(f"""
  SELECT {d} AS dim, query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {_DUCK_COS} DESC, neighbor_id) AS r
    FROM (SELECT vec_id AS query_id, qv0[1:{d}] AS qv FROM q0
          WHERE vec_id < {KNN_QUERY_MAX_ID}) q,
         (SELECT vec_id AS neighbor_id, qv0[1:{d}] AS cv FROM q0) c
    WHERE neighbor_id != query_id)
  WHERE r <= {KNN_K}""" for d in MATRYOSHKA_DIMS)
    return f"""
WITH q0 AS (SELECT vec_id, embedding::DOUBLE[] AS qv0 FROM embeddings),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {_DUCK_COS} DESC, neighbor_id) AS r
    FROM (SELECT vec_id AS query_id, qv0 AS qv FROM q0
          WHERE vec_id < {KNN_QUERY_MAX_ID}) q,
         (SELECT vec_id AS neighbor_id, qv0 AS cv FROM q0) c
    WHERE neighbor_id != query_id)
  WHERE r <= {KNN_K}
),
ann AS ({tiers})
SELECT ann.dim, ann.query_id,
       count(*)::BIGINT AS n_ann,
       sum(CASE WHEN truth.neighbor_id IS NULL THEN 0 ELSE 1 END)::BIGINT
         AS n_hits,
       round(sum(CASE WHEN truth.neighbor_id IS NULL THEN 0 ELSE 1 END)
             / {float(KNN_K)}, 6) AS recall_at_k
FROM ann LEFT JOIN truth USING (query_id, neighbor_id)
GROUP BY ann.dim, ann.query_id
"""


def _oracle_ann_recall() -> str:
    # Ground truth and ANN sides restated from ORACLE_KNN / ORACLE_ANN_IVF
    # with the SAME constants, both cut at IVF_K, composed in one WITH.
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {KNN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {_DUCK_COS} DESC, neighbor_id) AS rank
    FROM q, c WHERE neighbor_id != query_id)
  WHERE rank <= {IVF_K}
),
cent AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cent_v
         FROM embeddings WHERE vec_id < {IVF_CENTROID_MAX_ID}),
allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assigned AS (
  SELECT vec_id, v, centroid_id AS bucket
  FROM (SELECT a.vec_id, a.v, c.centroid_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, c.cent_v)
                          / (sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(c.cent_v, c.cent_v)))
                          DESC, c.centroid_id) AS rn
        FROM allv a, cent c)
  WHERE rn = 1
),
aq AS (SELECT vec_id AS query_id, v AS qv, bucket
       FROM assigned WHERE vec_id < {KNN_QUERY_MAX_ID}),
ac AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM assigned),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT aq.query_id, ac.neighbor_id,
           row_number() OVER (PARTITION BY aq.query_id
                              ORDER BY {_DUCK_COS} DESC, neighbor_id) AS rank
    FROM ac JOIN aq USING (bucket)
    WHERE ac.neighbor_id != aq.query_id)
  WHERE rank <= {IVF_K}
)
SELECT ann.query_id,
       count(*)::BIGINT AS n_ann,
       sum(CASE WHEN truth.neighbor_id IS NULL THEN 0 ELSE 1 END)::BIGINT
         AS n_hits,
       round(sum(CASE WHEN truth.neighbor_id IS NULL THEN 0 ELSE 1 END)
             / {float(IVF_K)}, 6) AS recall_at_k
FROM ann LEFT JOIN truth USING (query_id, neighbor_id)
GROUP BY ann.query_id
"""


def q_docs_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between the even-
    and odd-numbered sources' document-length distributions — the
    distribution-shift monitor a training-data pipeline runs between
    corpus snapshots (did this crawl's length profile drift from the
    last one?).

    D = max_v |F̂_a(v) − F̂_b(v)| is computed EXACTLY: with integer
    cumulative counts, |cum_a·n_b − cum_b·n_a| is an integer numerator
    over the constant denominator n_a·n_b, so the max and its argmin
    location are integer comparisons — libm-free, no float until the
    one display division. Scale shape: the corpus collapses to the
    DISTINCT-VALUE frame (bounded by the metric's value domain, not the
    corpus), the two ECDFs are range-parallel prefix sums
    (global_running_sum — no single-partition window), and the answer
    is a 1-row aggregate. int64 holds while n_a·n_b < 2^63 (~3B×3B
    docs with the |Δcum| ≤ max(n_a,n_b) bound)."""
    from ..operators import quantiles

    docs = load_table(spark, sf_dir, "documents")
    ga = (F.substring("source", 4, 10).cast("int") % 2 == 0)
    byv = (docs.groupBy(F.col("n_chars").alias("v"))
           .agg(F.sum(ga.cast("long")).alias("ca"),
                F.sum((~ga).cast("long")).alias("cb")))
    cum = quantiles.global_running_sums(
        byv, "v", {"ca": "cuma", "cb": "cumb"}, "v",
        total_cols={"ca": "na", "cb": "nb"})
    num = F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
    m = (cum.withColumn("num", num)
         .agg(F.max("na").alias("na"), F.max("nb").alias("nb"),
              F.max(F.struct(F.col("num").alias("num"),
                             (-F.col("v")).alias("negv"))).alias("m")))
    return m.select(
        "na", "nb",
        F.col("m.num").cast("bigint").alias("ks_num"),
        (-F.col("m.negv")).cast("bigint").alias("at_value"),
        F.round(F.col("m.num").cast("double")
                / (F.col("na") * F.col("nb")), 6).alias("ks_d"))


ORACLE_KS_DRIFT = """
WITH g AS (
  SELECT n_chars AS v, ((substr(source, 4))::INT % 2 = 0)::INT AS ga
  FROM documents
),
byv AS (SELECT v, sum(ga)::BIGINT AS ca, sum(1 - ga)::BIGINT AS cb
        FROM g GROUP BY v),
cum AS (SELECT v, ca, cb,
               sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb
        FROM byv
        WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM byv),
d AS (SELECT v, abs(cuma * nb - cumb * na)::BIGINT AS num FROM cum, tot),
mx AS (SELECT max(num) AS ks_num FROM d)
SELECT na::BIGINT AS na, nb::BIGINT AS nb, ks_num::BIGINT AS ks_num,
       min(v)::BIGINT AS at_value,
       round(ks_num::DOUBLE / (na * nb), 6) AS ks_d
FROM d, tot, mx
WHERE num = ks_num
GROUP BY na, nb, ks_num
"""


DSIR_BUCKETS = 64


def q_docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much more likely its hashed-unigram bag is under a
    TARGET distribution (here the English subset — the domain we want
    more of) than under the raw-corpus distribution.

    log w(d) = Σ_b c_b(d) · [ln p̂_tgt(b) − ln p̂_raw(b)], with hashed
    n-gram buckets b = md5_48(token) mod ``DSIR_BUCKETS`` and add-one
    smoothed bucket probabilities. The resampling step is the suite's
    existing weighted-sample/top-k family; the weight is DSIR's novelty.

    Float policy: the per-bucket log-ratio λ_b is computed once on a
    64-row broadcast frame (ln's last-ulp is engine-specific but the
    NLL-family precedent applies: values round to 6 dp, no training
    cascade); the per-doc Σ c_b·λ_b folds in pinned bucket order (the
    ``unigram_logprob`` idiom) so the float sum is order-identical in
    both engines. Scale shape: two hash aggregates on (doc, bucket) and
    (bucket); the bucket histogram is config-sized (64 rows, broadcast);
    per-doc reduction is a bounded array fold — no shuffle touches raw
    tokens twice, nothing is corpus².

    r16 (guide §1.2/§2.3/§5): the token-bucket rows previously fed FOUR
    plan references (the two blocking corpus counts n_raw/n_tgt, the
    raw and target histograms, and the per-doc counts) — each re-ran
    the tokenize→explode→hash scan. Now ONE corpus scan aggregates
    straight to the (doc_id, lang, bucket) rollup (doc_id determines
    lang, so the grain equals (doc_id, bucket); ≤ |docs|·B rows at any
    scale — metadata, not tokens, is what persists), and every other
    frame derives from that cached rollup: histograms as sum(c)
    re-aggregates, and the two corpus totals as a broadcast 1-row
    aggregate riding the plan (bounded by construction) instead of two
    construction-time blocking count() jobs. Integer sums reproduce
    the row counts exactly; N < 2^53 keeps the in-plan doubles
    bit-identical to the collected literals."""
    B = DSIR_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    tb = (docs.select("doc_id", "lang",
                      F.explode(tokens(F.col("text"))).alias("t"))
          .select("doc_id", "lang",
                  (textops.base_hash48(F.col("t")) % B)
                  .cast("int").alias("b")))
    dlb = materialize(tb.groupBy("doc_id", "lang", "b")
                      .agg(F.count(F.lit(1)).alias("c")), "shared")
    raw = dlb.groupBy("b").agg(F.sum("c").alias("cr"))
    tgt = (dlb.filter(F.col("lang") == "en")
           .groupBy("b").agg(F.sum("c").alias("ct")))
    totals = dlb.agg(
        F.sum("c").alias("__nr"),
        F.coalesce(F.sum(F.when(F.col("lang") == "en", F.col("c"))),
                   F.lit(0)).alias("__nt"))
    lam = (raw.join(tgt, "b", "left").na.fill(0, ["ct"])
           .join(F.broadcast(totals))
           .select("b", (F.log((F.col("ct") + 1).cast("double")
                               / (F.col("__nt") + B).cast("double"))
                         - F.log((F.col("cr") + 1).cast("double")
                                 / (F.col("__nr") + B).cast("double")))
                   .alias("lam")))
    db = dlb.groupBy("doc_id", "b").agg(F.sum("c").alias("c"))
    per = db.join(F.broadcast(lam), "b").select(
        "doc_id", "c",
        F.struct(F.col("b"), (F.col("c").cast("double") * F.col("lam"))
                 .alias("v")).alias("bv"))
    return (per.groupBy("doc_id")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.round(F.aggregate(
                     F.array_sort(F.collect_list("bv")),
                     F.lit(0.0).cast("double"),
                     lambda acc, x: acc + x["v"]), 6)
                 .alias("dsir_logweight")))


def _oracle_dsir_weights() -> str:
    return rf"""
WITH tok AS (SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS t
             FROM documents),
tb AS (SELECT doc_id, lang,
              ({_DUCK_HASH48.format(c='t')} % {DSIR_BUCKETS})::INT AS b
       FROM tok),
nr AS (SELECT count(*)::BIGINT AS n FROM tb),
nt AS (SELECT count(*)::BIGINT AS n FROM tb WHERE lang = 'en'),
raw AS (SELECT b, count(*)::BIGINT AS cr FROM tb GROUP BY b),
tgt AS (SELECT b, count(*)::BIGINT AS ct FROM tb WHERE lang = 'en'
        GROUP BY b),
lam AS (SELECT raw.b,
               ln((coalesce(ct, 0) + 1)::DOUBLE / (nt.n + {DSIR_BUCKETS}))
               - ln((cr + 1)::DOUBLE / (nr.n + {DSIR_BUCKETS})) AS lam
        FROM raw LEFT JOIN tgt USING (b), nt, nr),
db AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM tb GROUP BY 1, 2),
per AS (SELECT doc_id, b, c, c::DOUBLE * lam AS v
        FROM db JOIN lam USING (b))
SELECT doc_id, sum(c)::BIGINT AS n_tokens,
       round(list_aggregate(list(v ORDER BY b), 'sum'), 6)
         AS dsir_logweight
FROM per GROUP BY doc_id
"""


DUP_SPAN_L = 8


def q_docs_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2022): per doc,
    the fraction of tokens inside a length-``DUP_SPAN_L`` window that
    repeats anywhere in the corpus (incl. within-doc). Scale shape and
    exactness argument in :func:`operators.neardup.dup_span_coverage`."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.dup_span_coverage(docs, span_len=DUP_SPAN_L)


TOP_DUP_SPANS_K = 20


def q_docs_top_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``TOP_DUP_SPANS_K`` most-repeated length-``DUP_SPAN_L``
    token spans corpus-wide — the triage table a dedup operator
    produces first (what IS the boilerplate?). Groups on the 8-byte
    gram hash (map-side partial aggregation means span text crosses
    the wire once per distinct gram per partition — never per
    occurrence; a two-phase hash-only + rescan variant was measured
    SLOWER, 4.2 s vs 2.3 s at sf0.1, because the gram+md5 build
    dominates and it pays that twice), recovers one span string per
    group via min (deterministic under the negligible md5-48 collision
    odds), and takes top-k with a deterministic (count DESC, span ASC)
    tiebreak — Spark's sort-limit is a map-side partial top-k, not a
    global sort."""
    docs = load_table(spark, sf_dir, "documents")
    sp = docs.select(
        "doc_id",
        F.explode(neardup.gram_string_array(F.col("text"), DUP_SPAN_L))
        .alias("g"))
    return (sp.groupBy(textops.base_hash48(F.col("g")).alias("hv"))
            .agg(F.min("g").alias("span"),
                 F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
                 F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
            .filter(F.col("n_occurrences") >= 2)
            .select("span", "n_occurrences", "n_docs")
            .orderBy(F.desc("n_occurrences"), F.asc("span"))
            .limit(TOP_DUP_SPANS_K))


def _dup_span_cte(src: str = "documents", suffix: str = "",
                  text_col: str | None = None) -> str:
    """tok → per-position ``DUP_SPAN_L``-gram CTEs shared by the
    exact-substring oracles (`sp` carries doc_id, pos, gram string).
    ``src``/``suffix`` let a composed oracle (scrub → re-measure, the
    dedup ladder) run the same chain over a derived CTE without name
    collisions — same convention as :func:`_shingle_cte`; ``text_col``
    names the derived CTE's text column (default ``clean_text``, the
    rebuilt-corpus convention)."""
    L = DUP_SPAN_L
    s = suffix
    tc = text_col or "clean_text"
    parts = " || ' ' || ".join(f"w[pos + {k}]" for k in range(L))
    tok_src = (f"SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents"
               if src == "documents" else
               f"SELECT doc_id, regexp_split_to_array(trim({tc}), "
               f"'\\s+') AS w FROM {src}")
    return rf"""tok{s} AS ({tok_src}),
pos0{s} AS (SELECT doc_id, w,
                unnest(range(1, len(w) - {L - 2})) AS pos
         FROM tok{s}),
sp{s} AS (SELECT doc_id, pos, {parts} AS g FROM pos0{s})"""


def _oracle_dup_span_coverage() -> str:
    L = DUP_SPAN_L
    return rf"""
WITH {_dup_span_cte()},
c AS (SELECT g, count(*) AS c FROM sp GROUP BY g),
dup AS (SELECT doc_id, pos FROM sp JOIN c USING (g) WHERE c.c >= 2),
contrib AS (SELECT doc_id,
                   coalesce(least(pos - lag(pos) OVER
                       (PARTITION BY doc_id ORDER BY pos), {L}), {L}) AS k
            FROM dup),
cov AS (SELECT doc_id, sum(k)::BIGINT AS covered,
               count(*)::BIGINT AS n_dup
        FROM contrib GROUP BY doc_id),
base AS (SELECT doc_id, len(w)::BIGINT AS n_tokens FROM tok)
SELECT base.doc_id, n_tokens,
       greatest(n_tokens - {L - 1}, 0)::BIGINT AS n_spans,
       coalesce(n_dup, 0)::BIGINT AS n_dup_positions,
       coalesce(covered, 0)::BIGINT AS covered_tokens,
       round(coalesce(covered, 0)::DOUBLE / n_tokens, 6) AS dup_coverage
FROM base LEFT JOIN cov USING (doc_id)
"""


def _oracle_top_dup_spans() -> str:
    return rf"""
WITH {_dup_span_cte()}
SELECT g AS span, count(*)::BIGINT AS n_occurrences,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM sp GROUP BY g HAVING count(*) >= 2
ORDER BY n_occurrences DESC, span ASC LIMIT {TOP_DUP_SPANS_K}
"""


def q_docs_exact_substring_scrub(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """ExactSubstr dedup as an ACTION (Lee et al. 2022): drop every
    token covered by a corpus-repeated length-``DUP_SPAN_L`` window and
    rejoin the remainder — the removal step ``docs_dup_span_coverage``
    only measures. Scale shape and Bloom-prefilter exactness argument
    in :func:`operators.neardup.exact_substring_scrub`."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.exact_substring_scrub(docs, span_len=DUP_SPAN_L)


def _oracle_exact_substring_scrub() -> str:
    L = DUP_SPAN_L
    return rf"""
WITH {_dup_span_cte()},
c AS (SELECT g, count(*) AS c FROM sp GROUP BY g),
dup AS (SELECT doc_id, pos FROM sp JOIN c USING (g) WHERE c.c >= 2),
cov AS (SELECT DISTINCT doc_id, pos + t.k AS pos
        FROM dup CROSS JOIN range(0, {L}) t(k)),
tokpos AS (
  SELECT doc_id, u.pos AS pos, u.t AS t
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(w) + 1),
                                     i -> {{'pos': i, 't': w[i]}})) AS u
        FROM tok)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.t
  FROM tokpos tp ANTI JOIN cov c2
    ON c2.doc_id = tp.doc_id AND c2.pos = tp.pos
),
rebuilt AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS clean_text,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT tok.doc_id, coalesce(r.clean_text, '') AS clean_text,
       len(tok.w)::BIGINT AS n_tokens,
       (len(tok.w) - coalesce(r.n_kept, 0))::BIGINT AS n_removed
FROM tok LEFT JOIN rebuilt r USING (doc_id)
"""


# Admission ceiling for the coverage gate: rejects the ~9-10% most
# duplicated documents at every generated SF (distribution measured in
# PLANS.md r10) — high enough to be a real gate, low enough that every
# source keeps a population. Compared on the 6-dp ROUNDED coverage both
# engines already hash-match on (``docs_dup_span_coverage``), so the
# admission decision can never flip on an unrounded ulp.
DUP_COVERAGE_MAX = 0.25


def q_docs_dup_coverage_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed ExactSubstr admission gate: per source, how much corpus
    survives a ``dup_coverage < DUP_COVERAGE_MAX`` cut — the triage
    table for choosing between scrubbing (``docs_exact_substring_scrub``)
    and dropping. One coverage pass + an equi-join back to the corpus
    for ``source`` + a source-cardinality-bounded agg; the only float
    is the exact-decimal-summed mean of the rounded coverages."""
    docs = load_table(spark, sf_dir, "documents")
    cov = neardup.dup_span_coverage(docs, span_len=DUP_SPAN_L)
    admitted = (cov.filter(F.col("dup_coverage") < DUP_COVERAGE_MAX)
                .join(docs.select("doc_id", "source"), "doc_id"))
    return (admitted.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_admitted"),
                 F.sum("n_tokens").cast("bigint").alias("admitted_tokens"),
                 F.round(F.sum(F.col("dup_coverage").cast("decimal(25,12)"))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("avg_coverage")))


def _oracle_dup_coverage_gate() -> str:
    L = DUP_SPAN_L
    return rf"""
WITH {_dup_span_cte()},
c AS (SELECT g, count(*) AS c FROM sp GROUP BY g),
dup AS (SELECT doc_id, pos FROM sp JOIN c USING (g) WHERE c.c >= 2),
contrib AS (SELECT doc_id,
                   coalesce(least(pos - lag(pos) OVER
                       (PARTITION BY doc_id ORDER BY pos), {L}), {L}) AS k
            FROM dup),
cov AS (SELECT doc_id, sum(k)::BIGINT AS covered FROM contrib
        GROUP BY doc_id),
base AS (SELECT doc_id, len(w)::BIGINT AS n_tokens FROM tok),
scored AS (SELECT base.doc_id, n_tokens,
                  round(coalesce(covered, 0)::DOUBLE / n_tokens, 6) AS dc
           FROM base LEFT JOIN cov USING (doc_id)),
adm AS (SELECT s.doc_id, s.n_tokens, s.dc, d.source
        FROM scored s JOIN documents d USING (doc_id)
        WHERE s.dc < {DUP_COVERAGE_MAX})
SELECT source, count(*)::BIGINT AS n_admitted,
       sum(n_tokens)::BIGINT AS admitted_tokens,
       round((sum(dc::DECIMAL(25,12)))::DOUBLE / count(*), 6)
         AS avg_coverage
FROM adm GROUP BY source
"""


def q_docs_scrub_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-loop proof for the ExactSubstr family: corpus dup coverage
    BEFORE vs AFTER one scrub pass in one row (residual ≠ 0 by design —
    seam-created windows and ≥3× echoes; see
    :func:`operators.neardup.scrub_effect_summary` for the shared
    dup-frame scale shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.scrub_effect_summary(docs, span_len=DUP_SPAN_L)


def _oracle_scrub_effect() -> str:
    L = DUP_SPAN_L
    return rf"""
WITH {_dup_span_cte()},
c AS (SELECT g, count(*) AS c FROM sp GROUP BY g),
dup AS (SELECT doc_id, pos FROM sp JOIN c USING (g) WHERE c.c >= 2),
contrib AS (SELECT doc_id,
                   coalesce(least(pos - lag(pos) OVER
                       (PARTITION BY doc_id ORDER BY pos), {L}), {L}) AS k
            FROM dup),
cov_b AS (SELECT coalesce(sum(k), 0)::BIGINT AS covered_before
          FROM contrib),
tok_b AS (SELECT sum(len(w))::BIGINT AS tokens_before FROM tok),
cov AS (SELECT DISTINCT doc_id, pos + t.k AS pos
        FROM dup CROSS JOIN range(0, {L}) t(k)),
tokpos AS (
  SELECT doc_id, u.pos AS pos, u.t AS t
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(w) + 1),
                                     i -> {{'pos': i, 't': w[i]}})) AS u
        FROM tok)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.t
  FROM tokpos tp ANTI JOIN cov cv
    ON cv.doc_id = tp.doc_id AND cv.pos = tp.pos
),
rebuilt AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
),
cleaned AS (
  SELECT tok.doc_id, coalesce(r.clean_text, '') AS clean_text
  FROM tok LEFT JOIN rebuilt r USING (doc_id)
),
{_dup_span_cte("cleaned", "2")},
c2 AS (SELECT g, count(*) AS c FROM sp2 GROUP BY g),
dup2 AS (SELECT doc_id, pos FROM sp2 JOIN c2 USING (g) WHERE c2.c >= 2),
contrib2 AS (SELECT doc_id,
                    coalesce(least(pos - lag(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos), {L}), {L}) AS k
             FROM dup2),
cov_a AS (SELECT coalesce(sum(k), 0)::BIGINT AS covered_after
          FROM contrib2),
tok_a AS (SELECT sum(len(w))::BIGINT AS tokens_after FROM tok2)
SELECT tokens_before, covered_before,
       round(covered_before::DOUBLE / tokens_before, 6) AS coverage_before,
       tokens_after, covered_after,
       round(covered_after::DOUBLE / tokens_after, 6) AS coverage_after
FROM tok_b, cov_b, tok_a, cov_a
"""


# Fixed pass count for the iterated-scrub ladder: pass 1 kills the
# pairwise-dup mass, pass 2 PROVES convergence by re-measuring the
# scrubbed corpus (measured at sf0.01: coverage 0.089453 → 0.0 → 0.0 —
# the generated corpus's dups are pairwise and seam windows don't
# recur, so the ladder's zeros are the fixpoint certificate); a fixed
# unroll keeps the plan deterministic and the oracle CTE-expressible.
SCRUB_FIXPOINT_PASSES = 2


def q_docs_scrub_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ITERATED ExactSubstr scrub (Lee et al. iterate — one pass is a
    contraction, not a fixpoint): ``SCRUB_FIXPOINT_PASSES`` passes, one
    residual-coverage row per pass (pass 0 = untouched corpus). The
    convergence ladder IS the output; per-pass dup-frame reuse and
    checkpoint discipline in
    :func:`operators.neardup.exact_substring_scrub_fixpoint`."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup.exact_substring_scrub_fixpoint(
        docs, span_len=DUP_SPAN_L, passes=SCRUB_FIXPOINT_PASSES)


def _oracle_scrub_fixpoint(passes: int = SCRUB_FIXPOINT_PASSES) -> str:
    """The fixed-k scrub ladder unrolled as CTEs (the repo's trained-tier
    oracle convention): per pass — count≥2 dup starts, telescoping
    coverage measure, covered-position fanout, anti-join rewrite — each
    re-shingled via :func:`_dup_span_cte` over the previous pass's
    rebuilt corpus."""
    L = DUP_SPAN_L
    segs = [_dup_span_cte()]
    for p in range(passes + 1):
        s = "" if p == 0 else str(p)
        segs.append(rf"""c{s} AS (SELECT g, count(*) AS c FROM sp{s} GROUP BY g),
dup{s} AS (SELECT doc_id, pos FROM sp{s} JOIN c{s} USING (g)
           WHERE c{s}.c >= 2),
contrib{s} AS (SELECT doc_id,
                      coalesce(least(pos - lag(pos) OVER
                          (PARTITION BY doc_id ORDER BY pos), {L}), {L}) AS k
               FROM dup{s}),
m{p} AS (SELECT {p}::BIGINT AS pass_no,
                (SELECT sum(len(w)) FROM tok{s})::BIGINT AS tokens,
                coalesce(sum(k), 0)::BIGINT AS covered_tokens
         FROM contrib{s})""")
        if p < passes:
            ns = str(p + 1)
            segs.append(rf"""cov{s} AS (SELECT DISTINCT doc_id, pos + t.k AS pos
            FROM dup{s} CROSS JOIN range(0, {L}) t(k)),
tokpos{s} AS (
  SELECT doc_id, u.pos AS pos, u.t AS t
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(w) + 1),
                                     i -> {{'pos': i, 't': w[i]}})) AS u
        FROM tok{s})
),
kept{s} AS (
  SELECT tp.doc_id, tp.pos, tp.t
  FROM tokpos{s} tp ANTI JOIN cov{s} cv
    ON cv.doc_id = tp.doc_id AND cv.pos = tp.pos
),
rebuilt{s} AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS clean_text
  FROM kept{s} GROUP BY doc_id
),
cleaned{ns} AS (
  SELECT tok{s}.doc_id, coalesce(r.clean_text, '') AS clean_text
  FROM tok{s} LEFT JOIN rebuilt{s} r USING (doc_id)
)""")
            segs.append(_dup_span_cte(f"cleaned{ns}", ns))
    union = "\nUNION ALL\n".join(f"SELECT * FROM m{p}"
                                 for p in range(passes + 1))
    ctes = ",\n".join(segs)
    return (f"WITH {ctes}\n"
            f"SELECT pass_no, tokens, covered_tokens,\n"
            f"       round(covered_tokens::DOUBLE / tokens, 6) AS coverage\n"
            f"FROM ({union})")


# Post-scrub survival floor for the dedup ladder: a doc hollowed out to
# fewer than this many kept tokens is dropped instead of shipped as a
# fragment (the "downstream length gate" the scrub docstring defers to).
DEDUP_LADDER_MIN_KEPT = 10


def q_docs_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DEDUP LADDER as one hash-verified funnel — every dedup
    granularity this engine implements, applied in the order a real
    100 TB curation job runs them (coarsest/cheapest first):

    1. document-level EXACT dedup: keep the min doc_id per normalized
       content hash (one map-side-combinable hash agg);
    2. document-level NEAR dedup: drop non-canonical members of the
       shared ``_full_clusters`` MinHash/LSH components. Full-corpus
       cluster labels restricted to exact survivors are EXACT here:
       an exact-removed doc has a text-identical survivor with
       identical shingles and band keys, so adjacency (and hence every
       component) is preserved through the survivor — and the cluster
       min id is itself always an exact survivor (a smaller-id
       identical text would contradict minimality);
    3. substring-level ExactSubstr scrub over the deduped corpus
       (counting windows AFTER doc dedup, so removed copies no longer
       inflate the repeat counts);
    4. survival gate: docs with < ``DEDUP_LADDER_MIN_KEPT`` kept
       tokens are dropped.

    Output: one funnel row per source — raw → exact → near → final doc
    counts plus surviving token mass. Four source-cardinality-bounded
    aggregates over progressively smaller corpora; the cluster stage
    reads the session artifact instead of re-looping."""
    docs = load_table(spark, sf_dir, "documents")
    canon = (docs.select(content_hash(F.col("text")).alias("h"), "doc_id")
             .groupBy("h").agg(F.min("doc_id").alias("doc_id"))
             .select("doc_id"))
    exact_kept = docs.join(canon, "doc_id", "left_semi")
    non_canon = (_full_clusters(spark, sf_dir)
                 .filter(~F.col("is_canonical")).select("doc_id"))
    near_kept = exact_kept.join(non_canon, "doc_id", "left_anti")
    scrub = neardup.exact_substring_scrub(
        near_kept.select("doc_id", "text"), span_len=DUP_SPAN_L)
    final = (scrub.withColumn("n_kept",
                              F.col("n_tokens") - F.col("n_removed"))
             .filter(F.col("n_kept") >= DEDUP_LADDER_MIN_KEPT))
    src = docs.select("doc_id", "source")
    f_raw = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"))
    f_exact = exact_kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    f_near = near_kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_near"))
    f_final = (final.join(src, "doc_id").groupBy("source")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_final"),
                    F.sum("n_kept").cast("bigint").alias("tokens_final")))
    return (f_raw.join(f_exact, "source").join(f_near, "source")
            .join(f_final, "source", "left")
            .select("source", "n_raw", "n_exact", "n_near",
                    F.coalesce("n_final", F.lit(0)).cast("bigint")
                    .alias("n_final"),
                    F.coalesce("tokens_final", F.lit(0)).cast("bigint")
                    .alias("tokens_final")))


def _oracle_dedup_pipeline() -> str:
    L = DUP_SPAN_L
    return rf"""
WITH clust AS ({_oracle_dup_clusters()}),
ch AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
              doc_id
       FROM documents),
canon AS (SELECT min(doc_id) AS doc_id FROM ch GROUP BY h),
exact_kept AS (SELECT d.* FROM documents d
               WHERE d.doc_id IN (SELECT doc_id FROM canon)),
near_kept AS (SELECT e.* FROM exact_kept e
              WHERE e.doc_id NOT IN
                (SELECT doc_id FROM clust WHERE NOT is_canonical)),
{_dup_span_cte("near_kept", "3", text_col="text")},
c3 AS (SELECT g, count(*) AS c FROM sp3 GROUP BY g),
dup3 AS (SELECT doc_id, pos FROM sp3 JOIN c3 USING (g) WHERE c3.c >= 2),
cov3 AS (SELECT DISTINCT doc_id, pos + t.k AS pos
         FROM dup3 CROSS JOIN range(0, {L}) t(k)),
scrub AS (SELECT t3.doc_id, len(t3.w)::BIGINT AS n_tokens,
                 (len(t3.w) - coalesce(cv.n_cov, 0))::BIGINT AS n_kept
          FROM tok3 t3
          LEFT JOIN (SELECT doc_id, count(*) AS n_cov FROM cov3
                     GROUP BY doc_id) cv USING (doc_id)),
final AS (SELECT s.doc_id, s.n_kept FROM scrub s
          WHERE s.n_kept >= {DEDUP_LADDER_MIN_KEPT}),
f_raw AS (SELECT source, count(*)::BIGINT AS n_raw FROM documents
          GROUP BY source),
f_exact AS (SELECT source, count(*)::BIGINT AS n_exact FROM exact_kept
            GROUP BY source),
f_near AS (SELECT source, count(*)::BIGINT AS n_near FROM near_kept
           GROUP BY source),
f_final AS (SELECT d.source, count(*)::BIGINT AS n_final,
                   sum(f.n_kept)::BIGINT AS tokens_final
            FROM final f JOIN documents d USING (doc_id)
            GROUP BY d.source)
SELECT f_raw.source, n_raw, n_exact, n_near,
       coalesce(n_final, 0)::BIGINT AS n_final,
       coalesce(tokens_final, 0)::BIGINT AS tokens_final
FROM f_raw JOIN f_exact USING (source) JOIN f_near USING (source)
LEFT JOIN f_final USING (source)
"""


LLM_QUERIES = {
    "docs_split_assign": q_docs_split_assign,
    "emb_random_projection": q_emb_random_projection,
    "docs_exact_dedup": q_docs_exact_dedup,
    "sql_docs_exact_dedup": q_sql_docs_exact_dedup,
    "docs_cross_source_dup": q_docs_cross_source_dup,
    "docs_bpe_merges": q_docs_bpe_merges,
    "docs_bpe_encode": q_docs_bpe_encode,
    "docs_text_stats": q_docs_text_stats,
    "docs_quality_classifier": q_docs_quality_classifier,
    "docs_classifier_auc": q_docs_classifier_auc,
    "docs_classifier_calibration": q_docs_classifier_calibration,
    "docs_classifier_threshold": q_docs_classifier_threshold,
    "docs_tokenizer_fertility": q_docs_tokenizer_fertility,
    "docs_lang_guess": q_docs_lang_guess,
    "docs_simhash": q_docs_simhash,
    "docs_near_dup_pairs": q_docs_near_dup_pairs,
    "docs_dup_clusters": q_docs_dup_clusters,
    "docs_pagerank": q_docs_pagerank,
    "docs_dup_degree_histogram": q_docs_dup_degree_histogram,
    "docs_dup_kcore": q_docs_dup_kcore,
    "docs_dup_triangles": q_docs_dup_triangles,
    "docs_curriculum_order": q_docs_curriculum_order,
    "docs_shuffle_order": q_docs_shuffle_order,
    "docs_containment_pairs": q_docs_containment_pairs,
    "docs_scrubbed_containment": q_docs_scrubbed_containment,
    "docs_jaccard_histogram": q_docs_jaccard_histogram,
    "docs_minhash_calibration": q_docs_minhash_calibration,
    "docs_dup_clusters_incremental": q_docs_dup_clusters_incremental,
    "docs_dedup_keep": q_docs_dedup_keep,
    "docs_sampled": q_docs_sampled,
    "docs_sample_exact_n": q_docs_sample_exact_n,
    "docs_token_budget_mix": q_docs_token_budget_mix,
    "docs_quality_gopher": q_docs_quality_gopher,
    "docs_redacted": q_docs_redacted,
    "emb_quantize_int8": q_emb_quantize_int8,
    "emb_knn_int8": q_emb_knn_int8,
    "emb_knn_int8_rerank": q_emb_knn_int8_rerank,
    "emb_hard_negatives": q_emb_hard_negatives,
    "docs_split_leakage_check": q_docs_split_leakage_check,
    "emb_pca1_projection": q_emb_pca1_projection,
    "multimodal_resized": q_multimodal_resized,
    "docs_training_mix": q_docs_training_mix,
    "docs_domain_cap": q_docs_domain_cap,
    "emb_ann_recall": q_emb_ann_recall,
    "emb_pq_recall": q_emb_pq_recall,
    "docs_ks_drift": q_docs_ks_drift,
    "docs_dsir_weights": q_docs_dsir_weights,
    "docs_dup_span_coverage": q_docs_dup_span_coverage,
    "docs_top_dup_spans": q_docs_top_dup_spans,
    "docs_exact_substring_scrub": q_docs_exact_substring_scrub,
    "docs_dup_coverage_gate": q_docs_dup_coverage_gate,
    "docs_scrub_effect": q_docs_scrub_effect,
    "docs_scrub_fixpoint": q_docs_scrub_fixpoint,
    "docs_dedup_pipeline": q_docs_dedup_pipeline,
    "docs_repetition_signals": q_docs_repetition_signals,
    "emb_knn_hamming_rerank": q_emb_knn_hamming_rerank,
    "emb_hamming_recall": q_emb_hamming_recall,
    "emb_matryoshka_recall": q_emb_matryoshka_recall,
    "emb_ann_ivf_multiprobe": q_emb_ann_ivf_multiprobe,
    "docs_near_dup_incremental": q_docs_near_dup_incremental,
    "docs_contamination": q_docs_contamination,
    "docs_contamination_attribution": q_docs_contamination_attribution,
    "docs_bloom_contamination": q_docs_bloom_contamination,
    "docs_packed": q_docs_packed,
    "docs_lang_temperature_sample": q_docs_lang_temperature_sample,
    "docs_hot_ngrams": q_docs_hot_ngrams,
    "docs_boilerplate_scrub": q_docs_boilerplate_scrub,
    "docs_bm25_search": q_docs_bm25_search,
    "docs_hybrid_rrf": q_docs_hybrid_rrf,
    "emb_mmr_rerank": q_emb_mmr_rerank,
    "emb_label_outliers": q_emb_label_outliers,
    "docs_split_by_source": q_docs_split_by_source,
    "emb_dedup_keep": q_emb_dedup_keep,
    "docs_weighted_sample": q_docs_weighted_sample,
    "docs_quality_percentile": q_docs_quality_percentile,
    "docs_unigram_nll": q_docs_unigram_nll,
    "docs_bigram_nll": q_docs_bigram_nll,
    "docs_token_len_histogram": q_docs_token_len_histogram,
    "docs_dup_spans": q_docs_dup_spans,
    "docs_oov_rate": q_docs_oov_rate,
    "emb_pq_codes": q_emb_pq_codes,
    "emb_knn_pq": q_emb_knn_pq,
    "emb_ann_ivfpq": q_emb_ann_ivfpq,
    "emb_knn_pq_trained": q_emb_knn_pq_trained,
    "emb_knn_filtered": q_emb_knn_filtered,
    "emb_label_centroids": q_emb_label_centroids,
    "emb_centroid_drift": q_emb_centroid_drift,
    "docs_jaccard_join": q_docs_jaccard_join,
    "docs_simhash_pairs": q_docs_simhash_pairs,
    "docs_vocabulary": q_docs_vocabulary,
    "docs_near_dup_edit_distance": q_docs_near_dup_edit_distance,
    "docs_tfidf_top_terms": q_docs_tfidf_top_terms,
    "docs_chunked": q_docs_chunked,
    "docs_corpus_stats": q_docs_corpus_stats,
    "docs_winnow_fingerprints": q_docs_winnow_fingerprints,
    "emb_knn_bruteforce": q_emb_knn_bruteforce,
    "emb_knn_vectorized": q_emb_knn_vectorized,
    "emb_ann_ivf": q_emb_ann_ivf,
    "emb_ann_ivf_indexed": q_emb_ann_ivf_indexed,
    "emb_ann_ivf_trained": q_emb_ann_ivf_trained,
    "emb_ann_lsh": q_emb_ann_lsh,
    "emb_cosine_near_dup": q_emb_cosine_near_dup,
    "emb_similarity_histogram": q_emb_similarity_histogram,
    "multimodal_features": q_multimodal_features,
    "multimodal_audio_features": q_multimodal_audio_features,
    "docs_gzip_decode": q_docs_gzip_decode,
    "multimodal_png_features": q_multimodal_png_features,
    "multimodal_png_resized": q_multimodal_png_resized,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_jpeg_features": q_multimodal_jpeg_features,
    "multimodal_mjpeg_frames": q_multimodal_mjpeg_frames,
}


def llm_oracle() -> dict[str, str]:
    return {
        "docs_split_assign": _oracle_split_assign(),
        "emb_random_projection": _oracle_random_projection(),
        "docs_exact_dedup": ORACLE_EXACT_DEDUP,
        # SQL-text twin shares the DataFrame twin's oracle verbatim
        "sql_docs_exact_dedup": ORACLE_EXACT_DEDUP,
        "docs_cross_source_dup": _oracle_cross_source_dup(),
        "docs_bpe_merges": _oracle_bpe_merges(),
        "docs_bpe_encode": _oracle_bpe_encode(),
        "docs_text_stats": ORACLE_TEXT_STATS,
        "docs_quality_classifier": _oracle_quality_classifier(),
        "docs_classifier_auc": _oracle_classifier_auc(),
        "docs_classifier_calibration": _oracle_classifier_calibration(),
        "docs_classifier_threshold": _oracle_classifier_threshold(),
        "docs_tokenizer_fertility": _oracle_tokenizer_fertility(),
        "docs_lang_guess": _oracle_lang_guess(),
        "docs_simhash": _oracle_simhash(),
        "docs_near_dup_pairs": _oracle_near_dup(),
        "docs_dup_clusters": _oracle_dup_clusters(),
        "docs_pagerank": _oracle_pagerank(),
        "docs_dup_degree_histogram": _oracle_dup_degree_histogram(),
        "docs_dup_kcore": _oracle_dup_kcore(),
        "docs_dup_triangles": _oracle_dup_triangles(),
        "docs_curriculum_order": ORACLE_CURRICULUM_ORDER,
        "docs_shuffle_order": ORACLE_SHUFFLE_ORDER,
        "docs_containment_pairs": _oracle_containment_pairs(),
        "docs_scrubbed_containment": _oracle_scrubbed_containment(),
        "docs_jaccard_histogram": _oracle_jaccard_histogram(),
        "docs_minhash_calibration": _oracle_minhash_calibration(),
        # incremental maintenance must be indistinguishable from the
        # batch recompute — it shares the batch oracle verbatim
        "docs_dup_clusters_incremental": _oracle_dup_clusters(),
        "docs_dedup_keep": _oracle_dedup_keep(),
        "docs_sampled": _oracle_sampled(),
        "docs_sample_exact_n": _oracle_sample_exact_n(),
        "docs_token_budget_mix": _oracle_token_budget_mix(),
        "docs_quality_gopher": ORACLE_QUALITY_GOPHER.format(
            toks=_DUCK_TOKENS, src="documents"),
        "docs_redacted": _oracle_redacted(),
        "emb_quantize_int8": ORACLE_QUANTIZE_INT8,
        "emb_knn_int8": ORACLE_KNN_INT8,
        "emb_knn_int8_rerank": ORACLE_KNN_INT8_RERANK,
        "emb_hard_negatives": ORACLE_HARD_NEGATIVES,
        "docs_split_leakage_check": _oracle_split_leakage(),
        "emb_pca1_projection": _oracle_pca1(),
        "multimodal_resized": _oracle_multimodal_resized(),
        "docs_training_mix": _oracle_training_mix(),
        "docs_domain_cap": _oracle_domain_cap(),
        "emb_ann_recall": _oracle_ann_recall(),
        "emb_pq_recall": _oracle_pq_recall(),
        "docs_ks_drift": ORACLE_KS_DRIFT,
        "docs_dsir_weights": _oracle_dsir_weights(),
        "docs_dup_span_coverage": _oracle_dup_span_coverage(),
        "docs_top_dup_spans": _oracle_top_dup_spans(),
        "docs_exact_substring_scrub": _oracle_exact_substring_scrub(),
        "docs_dup_coverage_gate": _oracle_dup_coverage_gate(),
        "docs_scrub_effect": _oracle_scrub_effect(),
        "docs_scrub_fixpoint": _oracle_scrub_fixpoint(),
        "docs_dedup_pipeline": _oracle_dedup_pipeline(),
        "docs_repetition_signals": _oracle_repetition_signals(),
        "emb_knn_hamming_rerank": _oracle_knn_hamming_rerank(),
        "emb_hamming_recall": _oracle_hamming_recall(),
        "emb_matryoshka_recall": _oracle_matryoshka_recall(),
        "emb_ann_ivf_multiprobe": ORACLE_ANN_IVF_MULTIPROBE,
        "docs_near_dup_incremental": _oracle_near_dup_incremental(),
        "docs_contamination": _oracle_contamination(),
        "docs_contamination_attribution":
            _oracle_contamination_attribution(),
        "docs_bloom_contamination": _oracle_bloom_contamination(),
        "docs_packed": _oracle_packed(),
        "docs_lang_temperature_sample": _oracle_lang_temperature(),
        "docs_hot_ngrams": _oracle_hot_ngrams(),
        "docs_boilerplate_scrub": _oracle_boilerplate_scrub(),
        "docs_bm25_search": _oracle_bm25(),
        "docs_hybrid_rrf": _oracle_hybrid_rrf(),
        "emb_mmr_rerank": _oracle_mmr_rerank(),
        "emb_label_outliers": ORACLE_LABEL_OUTLIERS,
        "docs_split_by_source": _oracle_split_by_source(),
        "emb_dedup_keep": _oracle_emb_dedup_keep(),
        "docs_weighted_sample": _oracle_weighted_sample(),
        "docs_quality_percentile": _oracle_quality_percentile(),
        "docs_unigram_nll": _oracle_unigram_nll(),
        "docs_bigram_nll": _oracle_bigram_nll(),
        "docs_token_len_histogram": ORACLE_TOKEN_LEN_HISTOGRAM,
        "docs_dup_spans": _oracle_dup_spans(),
        "docs_oov_rate": _oracle_oov_rate(),
        "emb_pq_codes": _oracle_pq_codes(),
        "emb_knn_pq": _oracle_knn_pq(),
        "emb_knn_pq_trained": _oracle_knn_pq_trained(),
        "emb_ann_ivfpq": _oracle_ann_ivfpq(),
        "emb_knn_filtered": ORACLE_KNN_FILTERED.format(cos=_DUCK_COS),
        "emb_label_centroids": ORACLE_LABEL_CENTROIDS,
        "emb_centroid_drift": ORACLE_CENTROID_DRIFT,
        "docs_jaccard_join": _oracle_jaccard_join(),
        "docs_simhash_pairs": _oracle_simhash_pairs(),
        "docs_vocabulary": ORACLE_VOCABULARY,
        "docs_near_dup_edit_distance": _oracle_edit_distance(),
        "docs_tfidf_top_terms": _oracle_tfidf(),
        "docs_chunked": ORACLE_DOCS_CHUNKED,
        "docs_corpus_stats": ORACLE_CORPUS_STATS,
        "docs_winnow_fingerprints": _oracle_winnow(),
        "emb_knn_bruteforce": ORACLE_KNN,
        "emb_ann_ivf": ORACLE_ANN_IVF,
        "emb_ann_ivf_indexed": ORACLE_ANN_IVF,
        "emb_ann_ivf_trained": _oracle_ann_ivf_trained(),
        "emb_ann_lsh": _oracle_ann_lsh(),
        "emb_cosine_near_dup": ORACLE_COSINE_NEAR_DUP,
        "emb_similarity_histogram": _oracle_similarity_histogram(),
        "multimodal_features": ORACLE_MULTIMODAL,
        "multimodal_audio_features": _oracle_audio_features(),
        "docs_gzip_decode": ORACLE_GZIP_DECODE,
        "multimodal_png_features": _oracle_png_features(),
        "multimodal_png_resized": _oracle_png_resized(),
        "multimodal_frame_sample": _oracle_frame_sample(),
        "multimodal_jpeg_features": _oracle_jpeg_features(),
        "multimodal_mjpeg_frames": _oracle_mjpeg_frames(),
    }
