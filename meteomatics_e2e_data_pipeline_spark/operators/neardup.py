"""Near-duplicate detection: MinHash + LSH banding, and SimHash.

Designed for the 100 TB shape of the problem:

- **Never all-pairs.** Candidate generation is a self-join on
  ``(band_id, band_hash)`` — documents only meet if at least one band of
  their MinHash signatures collides. At N documents the join touches
  O(N · BANDS) rows hashed into buckets, not O(N²) pairs.
- **Partial-aggregatable signatures.** The signature is ``min()`` over
  exploded shingles — a hash aggregate with map-side combine, one shuffle
  on doc_id, no window, no sort.
- **Cross-engine reproducible hashing** (``textops.base_hash48``) so the
  whole sketch is oracle-checkable in DuckDB, not just "plausible".

Cache lifetime: the pair operators return LAZY frames, so they only
register the subplans they share (``artifacts.materialize(df,
"shared")``) and leave the release to the caller's
``artifacts.scope()``. Operators whose outputs are eager checkpoints
(:func:`connected_components`, :func:`init_near_dup_state` and the CDC
fold) open their own scope, so a fold loop caches nothing past each
fold. With no scope open, shared frames stay cached until Spark evicts
them.

Index maintenance: the maintained index (corpus, pairs, clusters and
the shingle/band corpus index) lives in ONE frame-discriminated txlog
table (:func:`init_near_dup_table`), and :func:`fold_cdc_near_dup`
turns one change-feed window into a keyed delta for it. The streaming
loop that applies those deltas exactly once is
``streaming.stream_cdc_near_dup_maintenance``, the same loop
(``sources.txlog_stream.maintain_from_cdc``) that maintains the ANN
index.

Default parameters: 24 permutations in 6 bands of 4 rows — the LSH
S-curve crosses ~50% candidate probability near Jaccard ≈ (1/6)^(1/4) ≈
0.64, a standard near-dup operating point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import materialize, scope
from .incremental import net_changes
from .textops import MINHASH_P, base_hash48, tokens
from .txlog import TxTable

NUM_PERM = 24
BANDS = 6
ROWS_PER_BAND = 4
assert NUM_PERM == BANDS * ROWS_PER_BAND


from .textops import spread_for_fanout as _spread

# Deterministic permutation coefficients (shared with the DuckDB oracle).
PERM_A = [2 * j + 1 for j in range(NUM_PERM)]          # odd multipliers
PERM_B = [7919 * j + 104729 for j in range(NUM_PERM)]  # offset per perm


def ngram_occurrences(docs: DataFrame, id_col: str, text_col: str,
                      n: int) -> DataFrame:
    """One (id, shingle) row per n-gram POSITION (non-distinct) — the
    shared head of every n-gram operator.

    posexplode + lead instead of a higher-order transform, for two
    reasons: every expression stays inside whole-stage codegen (HOF
    lambdas are interpreted), and a lambda that indexes a tokenization
    ALIAS (``w[i]``) gets the alias inlined by CollapseProject, silently
    re-running the regex split once per n-gram position (measured ~10×
    on the bigram variant of this chain). The window's hash(doc_id)
    requirement is already satisfied by ``_spread``'s repartition, so no
    extra shuffle is paid.
    """
    from pyspark.sql import Window

    tok = (
        _spread(docs.select(id_col, text_col), id_col)
        .select(id_col, F.posexplode(tokens(F.col(text_col))).alias("pos", "t0"))
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = ["t0"] + [f"t{k}" for k in range(1, n)]
    for k in range(1, n):
        tok = tok.withColumn(f"t{k}", F.lead("t0", k).over(w))
    return (
        tok.filter(F.col(parts[-1]).isNotNull())
        .select(id_col, F.concat_ws(" ", *parts).alias("shingle"))
    )


def shingle_hashes(docs: DataFrame, id_col: str, text_col: str,
                   n: int) -> DataFrame:
    """Distinct (id, hv) pairs — each document's shingle *set*, hashed.

    Hashing happens before the dedupe shuffle so only 8-byte keys move,
    never the shingle strings. All downstream set math (MinHash, sizes,
    intersections) runs on ``hv``; the DuckDB oracle does the same, so a
    (vanishingly unlikely) 48-bit collision cannot cause a mismatch.
    """
    return (
        ngram_occurrences(docs, id_col, text_col, n)
        .select(id_col, base_hash48(F.col("shingle")).alias("hv"))
        .distinct()
    )


def minhash_from_shingles(h: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Signatures from an existing (id, hv) shingle-hash frame — lets one
    materialization of the shingles feed both the signature aggregate and
    the exact-Jaccard verification join (see :func:`near_dup_pairs`)."""
    aggs = [
        F.min((F.lit(PERM_A[j]) * F.col("hv") + F.lit(PERM_B[j])) % MINHASH_P)
        .alias(f"mh_{j}")
        for j in range(NUM_PERM)
    ]
    return h.groupBy(id_col).agg(*aggs)


def _perm_min(hv_array, j: int):
    a, b = PERM_A[j], PERM_B[j]
    return F.array_min(
        F.transform(hv_array, lambda h: (F.lit(a) * h + F.lit(b))
                    % MINHASH_P))


def minhash_sig_exprs(hv_array) -> list:
    """Row-local minhash signature from a shingle-hash ARRAY column —
    the shuffle-free twin of :func:`minhash_from_shingles` for contexts
    without a groupBy (streaming micro-batches, per-row scoring).
    Bit-identical by construction: min over a multiset equals min over
    its distinct set, and the permuted-hash arithmetic is the same
    integer math (property-tested against the aggregate form). Cost is
    NUM_PERM row-local array traversals — no shuffle at all."""
    return [_perm_min(hv_array, j).alias(f"mh_{j}")
            for j in range(NUM_PERM)]


def band_key_array() -> "F.Column":
    """Row-local ``band_id|band_hash`` key array over mh_* columns —
    the same md5-of-concatenated-rows band hash :func:`band_rows`
    computes, packaged as one array column so a streaming row can test
    membership against a prior index without an explode + stateful
    distinct."""
    keys = []
    for b in range(BANDS):
        cols = [F.col(f"mh_{b * ROWS_PER_BAND + r}").cast("string")
                for r in range(ROWS_PER_BAND)]
        keys.append(F.concat_ws(
            "|", F.lit(b), F.md5(F.concat_ws("-", *cols))))
    return F.array(*keys)


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3) -> DataFrame:
    """One row per document with columns ``mh_0 .. mh_{NUM_PERM-1}``.

    Single shuffle: explode shingles map-side, hash, then a hash aggregate
    of NUM_PERM ``min()`` columns grouped by document.
    """
    return minhash_from_shingles(
        shingle_hashes(docs, id_col, text_col, n), id_col)


def band_rows(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Unpivot signatures into (id, band_id, band_hash) rows in ONE pass —
    an explode over a literal band array, not a BANDS-way union (a union
    would re-evaluate the signature aggregation per branch)."""
    band_structs = []
    for b in range(BANDS):
        cols = [F.col(f"mh_{b * ROWS_PER_BAND + r}").cast("string")
                for r in range(ROWS_PER_BAND)]
        band_structs.append(F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat_ws("-", *cols)).alias("band_hash"),
        ))
    return (
        sigs.select(id_col, F.explode(F.array(*band_structs)).alias("b"))
        .select(id_col, "b.band_id", "b.band_hash")
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        max_bucket: int | None = None) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) whose signatures collide in
    at least one band. The join shuffles on (band_id, band_hash) — bucket
    sizes, not document count, bound the pair fan-out.

    ``max_bucket`` is the hot-bucket guard for warehouse scale: a band
    bucket of B documents emits B² candidate pairs, so one template/
    boilerplate cluster of 10⁵ docs would emit 10¹⁰ pairs and sink the
    job. Buckets wider than the cap are dropped BEFORE the self-join (a
    partial-aggregatable size count + semi-join on the band rows). The
    recall loss is deliberate and standard: a bucket that hot is almost
    always exact/near-exact duplication, which the exact-dedup pass
    (run FIRST in any real pipeline, cf. docs_training_mix ordering)
    already collapses. Default None = exact behavior, used by the
    oracle-checked queries.

    The band rows feed BOTH sides of the self-join, so they are shared:
    without it every upstream stage (tokenize → shingle → hash → signature
    agg) runs twice, once per side. N·BANDS rows of (id, band_id, hash) is
    a small cache even at corpus scale."""
    b = band_rows(sigs, id_col)
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
        ok = (b.groupBy("band_id", "band_hash")
              .agg(F.count(F.lit(1)).alias("__bs"))
              .filter(F.col("__bs") <= max_bucket)
              .select("band_id", "band_hash"))
        b = b.join(ok, ["band_id", "band_hash"], "left_semi")
    b = materialize(b, "shared")
    left = b.withColumnRenamed(id_col, "id_a")
    right = b.withColumnRenamed(id_col, "id_b")
    return (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def near_dup_pairs(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 3,
                   threshold: float = 0.5) -> DataFrame:
    """Full near-dup chain: MinHash → LSH candidates → exact Jaccard
    verification on the candidates only. Returns (doc_a, doc_b, jaccard).

    The verification join is shingle-keyed and touches only candidate
    documents — at scale this is the small tail of the distribution, not
    the corpus.

    The shingle-hash subplan is shared by FIVE consumers (the signature
    aggregate feeding the band self-join, both sides of the intersection
    join, the size aggregate), so it is shared — tokenize+shingle+hash
    runs once, not per consumer (the band rows inside
    :func:`lsh_candidate_pairs` are shared for the same reason). On a
    real lake the same effect is had by materializing signatures to a
    table between stages.
    """
    sh = materialize(shingle_hashes(docs, id_col, text_col, n), "shared")
    cand = lsh_candidate_pairs(minhash_from_shingles(sh, id_col), id_col)
    return verify_jaccard(cand, sh, id_col, threshold)


def verify_jaccard(cand: DataFrame, sh: DataFrame, id_col: str = "doc_id",
                   threshold: float = 0.5,
                   mode: str = "by_pair") -> DataFrame:
    """Exact Jaccard over candidate pairs, given the (id, hv) shingle-set
    frame. Returns (doc_a, doc_b, jaccard) for pairs at/above
    ``threshold``.

    Two intersection-counting shapes for two regimes — the crossover is
    which intermediate is smaller:

    - ``by_pair``: attach each candidate's full shingle sets and count
      matches — work ∝ |cand| × avg set size. Right when candidates are a
      tiny tail (LSH banding at high thresholds).
    - ``inverted``: self-join the shingle index on ``hv`` and count per
      pair, semi-joined to the candidates before the aggregate — work ∝
      Σ_hv df², independent of candidate count. Right when the candidate
      set is broad (prefix filtering at moderate thresholds: at sf0.1 the
      prefix join yields 409k candidates, 200M rows by_pair vs 1.3M
      inverted).
    """
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("hv"))
    bb = sh.select(F.col(id_col).alias("id_b"), F.col("hv"))
    if mode == "inverted":
        inter = (
            a.join(bb, "hv")
            .filter(F.col("id_a") < F.col("id_b"))
            .join(cand, ["id_a", "id_b"], "left_semi")
            .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        inter = (
            cand.join(a, "id_a").join(bb, ["id_b", "hv"])
            .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter"))
        )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .join(na, "id_a").join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
                "jaccard")
    )


def jaccard_prefix_pairs(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 3,
                         threshold: float = 0.5,
                         prebuilt_shingles: DataFrame | None = None
                         ) -> DataFrame:
    """EXACT n-gram Jaccard self-join via prefix filtering (the
    AllPairs/PPJoin family) — no sketch, no recall loss, still never
    all-pairs.

    Order every shingle by global rarity (document frequency asc, hash
    asc). A document of set size s only needs its first
    ``s − ceil(t·s) + 1`` rarest shingles as its *prefix*: any pair with
    Jaccard ≥ t must share ≥ ceil(t·s) elements, which cannot all hide in
    the ceil(t·s) − 1 suffix positions, and the globally-smallest shared
    element therefore lands in BOTH prefixes. Candidates = the
    prefix-to-prefix equi-join on the shingle hash; exact verification
    runs on candidates only.

    Complements :func:`near_dup_pairs`: MinHash/LSH is constant work per
    document but probabilistic; this is exact with work proportional to
    prefix-bucket collision counts (rare-first ordering keeps those
    buckets small). Both shuffle on shingle-hash keys — never O(N²).
    """
    from pyspark.sql import Window

    # a prebuilt (already materialized) shingle table skips both the
    # recompute AND the local cache — the production shape where the
    # dedup pipeline writes shingles once and every set-similarity
    # operator reads the table
    sh = (prebuilt_shingles if prebuilt_shingles is not None
          else materialize(shingle_hashes(docs, id_col, text_col, n),
                           "shared"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    freq = sh.groupBy("hv").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(F.col("df").asc(),
                                           F.col("hv").asc())
    prefix = materialize(  # feeds both sides of the join
        sh.join(freq, "hv")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, id_col)
        # round-before-ceil guards the prefix bound against upward FP
        # error (0.07*100 = 7.000000000000001 would ceil to 8 and shorten
        # the prefix below the lemma's bound, silently dropping qualifying
        # pairs); the oracle applies the identical guard
        .filter(F.col("rk")
                <= F.col("n_sh")
                - F.ceil(F.round(F.lit(threshold) * F.col("n_sh"), 9)) + 1),
        "shared")
    pa = prefix.select(F.col(id_col).alias("id_a"), "hv")
    pb = prefix.select(F.col(id_col).alias("id_b"), "hv")
    # verification consumes cand twice (semi-join + outer attach)
    cand = materialize(pa.join(pb, "hv")
                       .filter(F.col("id_a") < F.col("id_b"))
                       .select("id_a", "id_b").distinct(), "shared")
    # Moderate thresholds make the prefix candidate set broad, so count
    # intersections from the inverted index (∝ Σ df²), not per pair.
    return verify_jaccard(cand, sh, id_col, threshold, mode="inverted")


def containment_prefix_pairs(docs: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", n: int = 3,
                             threshold: float = 0.8,
                             prebuilt_shingles: DataFrame | None = None
                             ) -> DataFrame:
    """EXACT asymmetric CONTAINMENT join: ordered pairs (a, b), a ≠ b,
    with |A∩B| / |A| ≥ threshold — the short-doc-inside-long-doc case
    (quotes, excerpts, boilerplate wrappers) that symmetric Jaccard
    systematically misses (a 100-shingle doc fully contained in a
    10 000-shingle doc has Jaccard ≈ 0.01).

    Prefix lemma, containment form: a qualifying pair shares
    ≥ ceil(t·|A|) shingles, which cannot all hide in A's
    ceil(t·|A|) − 1 most common positions — so A's
    |A| − ceil(t·|A|) + 1 rarest shingles (global df asc) must include
    a shared one. Candidates = A-prefix ⋈ a DF-CAPPED inverted index
    on the b side.

    B-side cap (lossless — the r9 lever for the hot-shingle tail):
    fix the strict total order (df asc, hv asc) shared by both sides,
    and let r = ceil(round(t·min_n, 9)) where min_n is the corpus-wide
    MINIMUM shingle-set size (a one-scalar driver artifact). For any
    qualifying pair (a, b) with shared set S, let s* be the RAREST
    shared shingle under that order. Then
      (i)  s* sits in A's prefix: every element of A rarer than s* is
           non-shared, and there are at most |A| − |S| ≤ |A| − need of
           those, so rank_A(s*) ≤ |A| − need + 1;
      (ii) s* survives the b-cap: the other |S| − 1 ≥ r − 1 shared
           shingles all rank AFTER s* inside B, so
           rank_B(s*) ≤ |B| − (|S| − 1) ≤ |B| − r + 1.
    Hence joining the prefix with an index that keeps only each b's
    |B| − r + 1 rarest entries (drops its r − 1 most COMMON — exactly
    the globally hot shingles that blow the join up, since a hot
    shingle is near the common end of every document that carries it)
    still produces every qualifying pair. Both filters read the same
    ranked frame, so the cap costs no extra shuffle. A hypothesis test
    checks the capped output equals brute force on adversarial
    corpora.

    Verification (r9: switched from the |cand|·|A| per-pair fan-out to
    the INVERTED count, same crossover logic as ``verify_jaccard``):
    containment prefixes are A-side-only, so the candidate set is
    broad at any threshold — counting intersections from the inverted
    index (self-join on hv, work ∝ Σ df², semi-joined to candidates
    BEFORE the aggregate so the agg state stays candidate-bounded) is
    ~10× cheaper than attaching each candidate's full A-set (3.5 s →
    0.3 s at sf0.1). The integer threshold
    ``n_inter ≥ ceil(round(t·|A|, 9))`` keeps the same
    round-before-ceil FP guard as the Jaccard prefix — no float
    comparison.
    """
    from pyspark.sql import Window

    sh = (prebuilt_shingles if prebuilt_shingles is not None
          else materialize(shingle_hashes(docs, id_col, text_col, n),
                           "shared"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    freq = sh.groupBy("hv").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(F.col("df").asc(),
                                           F.col("hv").asc())
    need = F.ceil(F.round(F.lit(threshold) * F.col("n_sh"), 9))
    min_n = sizes.agg(F.min("n_sh")).first()[0]
    if min_n is None:
        min_n = 0  # empty corpus: r=0, cap keeps everything (vacuous)
    import math
    r_cap = math.ceil(round(threshold * min_n, 9))
    # one ranked frame feeds BOTH the a-side prefix and the b-side cap
    ranked = materialize(sh.join(freq, "hv")
                         .withColumn("rk", F.row_number().over(w))
                         .join(sizes, id_col), "shared")
    prefix = (
        ranked.filter(F.col("rk") <= F.col("n_sh") - need + 1)
        .select(F.col(id_col).alias("id_a"), "hv")
    )
    index_b = (
        ranked.filter(F.col("rk") <= F.col("n_sh") - F.lit(r_cap) + 1)
        .select(F.col(id_col).alias("id_b"), "hv")
    )
    cand = materialize(prefix.join(index_b, "hv")
                       .filter(F.col("id_a") != F.col("id_b"))
                       .select("id_a", "id_b").distinct(), "shared")
    sh_a = sh.select(F.col(id_col).alias("id_a"), "hv")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "hv")
    inter = (
        sh_a.join(sh_b, "hv")
        .filter(F.col("id_a") != F.col("id_b"))
        .join(cand, ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("n_sh").alias("n_a"))
    return (
        inter.join(na, "id_a")
        .filter(F.col("n_inter")
                >= F.ceil(F.round(F.lit(threshold) * F.col("n_a"), 9)))
        .select("id_a", "id_b",
                F.round(F.col("n_inter") / F.col("n_a"), 6)
                .alias("containment"))
    )


WINNOW_K = 8   # character k-gram length
WINNOW_W = 4   # winnowing window (positions per window)


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every character ``WINNOW_K``-gram, then keep each
    ``WINNOW_W``-position window's minimum hash — a deterministic,
    position-robust fingerprint set guaranteeing any shared substring of
    length ≥ k+w−1 yields a shared fingerprint.

    Shape: posexplode char positions → substring+hash (codegen) → one
    sliding-window min per doc (single shuffle on doc_id) → distinct.
    """
    from pyspark.sql import Window

    n = F.length(F.col(text_col))
    pos = (
        _spread(docs.select(id_col, text_col), id_col)
        .filter(n >= WINNOW_K)
        .select(id_col, text_col,
                F.posexplode(F.sequence(F.lit(1), n - WINNOW_K + 1))
                .alias("_", "pos"))
        .select(id_col, "pos",
                base_hash48(
                    F.expr(f"substring({text_col}, pos, {WINNOW_K})"))
                .alias("hv"))
    )
    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(0, WINNOW_W - 1))
    return (
        pos.withColumn("wm", F.min("hv").over(w))
        # the final W-1 windows are partial (fewer than W grams); the
        # canonical algorithm only keeps full windows
        .withColumn("__max_pos", F.max("pos").over(Window.partitionBy(id_col)))
        .filter(F.col("pos") <= F.col("__max_pos") - WINNOW_W + 1)
        .select(id_col, F.col("wm").alias("fingerprint"))
        .distinct()
    )


# 48 bits: the widest fingerprint whose 2^i bit terms stay inside a
# signed BIGINT on both engines (the base hash is 48-bit for the same
# reason). 32 bits saturated on the stress corpus — at 50k docs,
# hamming<=3 over 32 bits produced ~20M candidate pairs; 48 bits keeps
# the same banding exactness with far fewer random collisions.
SIMHASH_BITS = 48
SIMHASH_BANDS = 4                      # > max_hamming ⇒ blocking is exact
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_MAX_HAMMING = 3


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """SimHash fingerprint over unigram tokens (term-frequency weighted):
    bit i of the fingerprint is the sign of the sum over tokens of
    ±1 (bit i of the token hash), weighted by occurrence count.

    Shape: explode tokens → hash → one hash-aggregate with SIMHASH_BITS
    conditional sums — partial-aggregatable, single shuffle.
    """
    tok = (
        _spread(docs.select(id_col, text_col), id_col)
        .select(id_col, F.explode(tokens(F.col(text_col))).alias("t"))
        .select(id_col, base_hash48(F.col("t")).alias("hv"))
    )
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("hv"), i).bitwiseAND(F.lit(1)) == 1,
                   F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy(id_col).agg(*sums)
    fp = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(id_col, fp.cast("bigint").alias("simhash"))


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """Hamming near-dup pairs over SimHash fingerprints, band-blocked —
    and EXACT, not probabilistic: with ``SIMHASH_BANDS`` (4) > the Hamming
    threshold (3), at most 3 differing bits cannot touch all 4 bands, so
    by pigeonhole every qualifying pair collides on at least one band.
    Candidates come from the (band, band_value) equi-join (never
    all-pairs); verification is one ``bit_count(xor)`` per candidate.
    Output: (doc_a, doc_b, hamming).
    """
    if max_hamming >= SIMHASH_BANDS:
        # the pigeonhole guarantee needs bands > threshold; a larger
        # threshold would silently lose pairs whose differing bits spread
        # one per band
        raise ValueError(
            f"max_hamming must be < {SIMHASH_BANDS} bands for exact "
            f"blocking, got {max_hamming}")
    fp = materialize(simhash(docs, id_col, text_col), "shared")
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1)).alias("val"))
        for b in range(SIMHASH_BANDS)
    ]
    bands = (
        fp.select(id_col, "simhash",
                  F.explode(F.array(*band_structs)).alias("bv"))
        .select(id_col, "simhash", "bv.band", "bv.val")
    )
    a = bands.select(F.col(id_col).alias("id_a"),
                     F.col("simhash").alias("sh_a"), "band", "val")
    b = bands.select(F.col(id_col).alias("id_b"),
                     F.col("simhash").alias("sh_b"), "band", "val")
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
                "hamming")
    )


@scope()
def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iter: int = 30) -> DataFrame:
    """Connected components over an undirected pair list via iterative
    min-label propagation: every vertex starts labeled with its own id and
    repeatedly takes the minimum of its own and its neighbors' labels
    until a fixed point. Deterministic (min is order-free), and the label
    a component converges to is its minimum vertex id.

    Scale shape (the reference's closest analog is the latest-record-wins
    window, ``fact_weather_params_history.sql:17-32`` — single-table; this
    is its graph generalization):

    - each iteration is ONE equi-join (edges × labels on the neighbor key)
      plus ONE partial-aggregatable ``min`` groupBy — no windows;
    - ``localCheckpoint`` per iteration truncates lineage, exactly as in
      :func:`~..similarity.train_ivf_centroids` (the iterative-algorithm
      trap: an unmaterialized loop re-executes the whole history per
      action);
    - iterations needed = graph diameter. Near-dup components are
      overwhelmingly shallow (stars around a popular document), so
      large-star/small-star's O(log d) rounds do not pay for their
      extra jobs per round (42 jobs against 25 on a 12-edge graph of
      pairs, triangles, stars and 4-chains, same labels);
    - the edge list is shared by every iteration and released on
      return; labels are O(V), edges O(E), never materializing pairs²
      anything.

    Returns (vertex, label) with one row per distinct endpoint of
    ``pairs``. Raises if ``max_iter`` passes without convergence rather
    than returning a half-propagated labeling.
    """
    edges = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"),
                                  F.col(src).alias("v")))
        .distinct(), "shared")
    # Each round references the previous one twice (own ∪ neighbor), so
    # rounds are eager checkpoints: an untruncated plan has
    # 2^iterations paths (a 15-vertex chain hung the analyzer). The
    # convergence aggregate then reads the truncated frame — a cheap
    # second job per round on the already-materialized RDD.
    labels = materialize(edges.select("u").distinct()
                         .select("u", F.col("u").alias("lbl")), "eager")
    for _ in range(max_iter):
        # Tag each unioned row with whether it carries the vertex's
        # OWN current label; the propagation aggregate then yields
        # both the new label (min over own+neighbors) and the old one
        # (min over the single own row) in ONE job, so convergence
        # detection needs no separate old-vs-new join per iteration.
        own = labels.select("u", "lbl", F.lit(True).alias("__own"))
        neighbor = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .select("u", "lbl", F.lit(False).alias("__own"))
        )
        new_labels = materialize(
            own.unionByName(neighbor)
            .groupBy("u")
            .agg(F.min("lbl").alias("lbl"),
                 F.min(F.when(F.col("__own"), F.col("lbl"))).alias("__old"))
            .select("u", "lbl",
                    (F.col("lbl") != F.col("__old")).alias("__chg")),
            "eager")
        changed = new_labels.agg(
            F.max(F.col("__chg").cast("int"))).first()[0]
        labels = new_labels.select("u", "lbl")
        if not changed:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} "
        "iterations — component diameter exceeds the cap; raise max_iter")


def dup_clusters(pairs: DataFrame, src: str = "doc_a",
                 dst: str = "doc_b") -> DataFrame:
    """Duplicate-cluster canonicalization — the last step of a real dedup
    pipeline: collapse near-dup PAIRS into connected components and pick
    one keeper per cluster (min doc id wins, deterministically).

    Output: (doc_id, cluster_id, is_canonical) with one row per document
    that appears in at least one pair; ``cluster_id`` is the component's
    minimum doc id, and exactly that document has ``is_canonical = true``.
    Downstream, the kept corpus is ``docs`` anti-joined to the
    ``is_canonical = false`` rows.
    """
    labels = connected_components(pairs, src, dst)
    return labels.select(
        F.col("u").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("u") == F.col("lbl")).alias("is_canonical"))


def dup_clusters_incremental(prev: DataFrame, new_pairs: DataFrame,
                             src: str = "doc_a", dst: str = "doc_b",
                             id_col: str = "doc_id",
                             cluster_col: str = "cluster_id") -> DataFrame:
    """Fold a batch's near-dup pairs into EXISTING cluster labels — the
    maintenance step that completes the incremental-dedup story
    (:func:`near_dup_pairs_incremental` produces exactly its input).
    Recomputing connected components over the whole corpus per ingest
    is the 100 TB anti-pattern; here work scales with the increment:

    1. clusters TOUCHED by a new pair are identified by a semi-join of
       the prior label table against the new pair endpoints;
    2. only their members re-enter component finding, as (member →
       prior cluster_id) edges — valid because the prior cluster id IS
       the component's min doc id, so the old min-label structure is
       preserved — unioned with the new pairs (which also introduce
       brand-new documents);
    3. every untouched label passes through unchanged (no shuffle of
       the untouched corpus — the anti-join is against the tiny touched
       cluster-id set, broadcastable).

    Output matches :func:`dup_clusters` exactly: (doc_id, cluster_id,
    is_canonical) — and because min-label merging is associative, the
    incremental result is IDENTICAL to a from-scratch batch recompute
    over the full pair set (the oracle checks precisely that).
    """
    ends = (new_pairs.select(F.col(src).alias(id_col))
            .unionByName(new_pairs.select(F.col(dst).alias(id_col)))
            .distinct())
    touched = (prev.join(ends, id_col, "left_semi")
               .select(cluster_col).distinct())
    untouched = (prev.join(F.broadcast(touched), cluster_col, "left_anti")
                 .select(id_col, cluster_col,
                         (F.col(id_col) == F.col(cluster_col))
                         .alias("is_canonical")))
    member_edges = (prev.join(F.broadcast(touched), cluster_col,
                              "left_semi")
                    .select(F.col(id_col).alias(src),
                            F.col(cluster_col).alias(dst)))
    edges = member_edges.unionByName(new_pairs.select(src, dst))
    return dup_clusters(edges, src, dst).unionByName(untouched)


def keep_canonical(docs: DataFrame, clusters: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """The kept corpus after dedup: drop every document that sits in a
    duplicate cluster WITHOUT being its canonical representative.

    ``clusters`` is :func:`dup_clusters` output; the drop-list is its
    ``is_canonical = false`` rows, which by construction is small relative
    to the corpus (the duplicate tail), so the anti-join broadcasts at
    any realistic dup rate — the corpus side streams unshuffled. Keeps
    ``docs``' schema: singletons (never paired) pass through untouched.
    """
    drop = clusters.filter(~F.col("is_canonical")).select(id_col)
    return docs.join(F.broadcast(drop), id_col, "left_anti")


def near_dup_pairs_incremental(corpus: DataFrame, batch: DataFrame,
                               id_col: str = "doc_id",
                               text_col: str = "text", n: int = 3,
                               threshold: float = 0.5,
                               corpus_index: dict | None = None
                               ) -> DataFrame:
    """Incremental near-dup: every pair at/above ``threshold`` that
    TOUCHES the new ``batch`` — batch×corpus plus batch×batch, never
    corpus×corpus. This is the shape a daily 100 TB ingest actually
    runs: signatures for the increment only, banded join against the
    pre-materialized corpus index, so per-day work scales with the
    increment, not the corpus.

    ``corpus_index`` is that materialized index:
    ``{"shingles": (id, hv), "bands": (id, band_id, band_hash)}`` —
    the frames :func:`init_near_dup_state` builds and
    :func:`fold_cdc_near_dup` maintains. With it, this function never
    touches corpus TEXT at all (``corpus`` may even be None): the only
    corpus-sized work left is the band equi-join probe and the
    candidate-restricted verify. Without it, the index is computed
    here from the corpus text (the one-shot form — bit-identical,
    since ``shingle_hashes`` is a pure function of the text).

    Candidate recall is identical to running the full self-join and
    filtering to batch-touching pairs (signatures are per-document, so a
    pair collides in a band here iff it collides there) — which is
    exactly how the oracle checks this operator. Verification runs on
    the union shingle index, candidates only.

    ``corpus`` and ``batch`` must be disjoint in ``id_col``; the output
    pair is normalized to (least, greatest).
    """
    if corpus_index is not None:
        sh_c = corpus_index["shingles"]
        bands_c = corpus_index["bands"]
    else:
        sh_c = materialize(shingle_hashes(corpus, id_col, text_col, n),
                           "shared")
        bands_c = band_rows(minhash_from_shingles(sh_c, id_col), id_col)
    sh_b = materialize(shingle_hashes(batch, id_col, text_col, n), "shared")
    bands_b = materialize(  # feeds cross AND self join
        band_rows(minhash_from_shingles(sh_b, id_col), id_col), "shared")
    b_side = bands_b.withColumnRenamed(id_col, "id_x")
    cross = (
        b_side.join(bands_c.withColumnRenamed(id_col, "id_y"),
                    ["band_id", "band_hash"])
        .select(F.least("id_x", "id_y").alias("id_a"),
                F.greatest("id_x", "id_y").alias("id_b"))
    )
    self_ = (
        b_side.join(bands_b.withColumnRenamed(id_col, "id_y"),
                    ["band_id", "band_hash"])
        .filter(F.col("id_x") < F.col("id_y"))
        .select(F.col("id_x").alias("id_a"), F.col("id_y").alias("id_b"))
    )
    cand = materialize(cross.unionByName(self_).distinct(), "shared")
    sh = sh_c.unionByName(sh_b)
    return verify_jaccard(cand, sh, id_col, threshold)


# The index state as ONE frame-discriminated table: a single atomic
# commit per fold keeps the five frames mutually consistent under any
# crash (five separate tables could never commit together). The
# shingle/band frames ARE the materialized corpus index that makes fold
# work ∝ increment — persisting them is the point: a fold never
# re-shingles the corpus.
_NEARDUP_STATE_SCHEMA = ("frame string, doc_id long, text string, "
                         "doc_a long, doc_b long, jaccard double, "
                         "cluster_id long, is_canonical boolean, "
                         "hv long, band_id int, band_hash string")


def pack_near_dup_state(state: dict) -> DataFrame:
    """(corpus, pairs, clusters, shingles, bands) → one
    frame-discriminated DataFrame with the ``_NEARDUP_STATE_SCHEMA``
    layout."""
    n = F.lit(None)
    blank = {
        "doc_id": n.cast("long"), "text": n.cast("string"),
        "doc_a": n.cast("long"), "doc_b": n.cast("long"),
        "jaccard": n.cast("double"), "cluster_id": n.cast("long"),
        "is_canonical": n.cast("boolean"), "hv": n.cast("long"),
        "band_id": n.cast("int"), "band_hash": n.cast("string"),
    }

    def frame(tag, df, *cols):
        sel = [F.lit(tag).alias("frame")]
        sel += [F.col(c).alias(c) if c in cols else blank[c].alias(c)
                for c in blank]
        return df.select(*sel)

    out = frame("corpus", state["corpus"], "doc_id", "text")
    for tag, cols in (("pairs", ("doc_a", "doc_b", "jaccard")),
                      ("clusters", ("doc_id", "cluster_id",
                                    "is_canonical")),
                      ("shingles", ("doc_id", "hv")),
                      ("bands", ("doc_id", "band_id", "band_hash"))):
        out = out.unionByName(frame(tag, state[tag], *cols))
    return out


def unpack_near_dup_state(packed: DataFrame) -> dict:
    """One frame-discriminated DataFrame → the five state frames."""
    def frame(tag, *cols):
        return packed.filter(F.col("frame") == tag).select(*cols)

    return {
        "corpus": frame("corpus", "doc_id", "text"),
        "pairs": frame("pairs", "doc_a", "doc_b", "jaccard"),
        "clusters": frame("clusters", "doc_id", "cluster_id",
                          "is_canonical"),
        "shingles": frame("shingles", "doc_id", "hv"),
        "bands": frame("bands", "doc_id", "band_id", "band_hash"),
    }


@scope()
def init_near_dup_state(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5) -> dict:
    """Build the near-dup index state from a corpus snapshot. Returns
    ``{"corpus", "pairs", "clusters", "shingles", "bands"}``, each an
    eager localCheckpoint. ``shingles``/``bands`` are the MATERIALIZED
    corpus index — what makes later folds' work truly ∝ the increment:
    without them every fold would re-shingle and re-band the whole
    corpus just to join the new batch against it."""
    corpus = materialize(docs.select(id_col, text_col), "eager")
    sh = materialize(shingle_hashes(corpus, id_col, text_col, n), "eager")
    bands = materialize(
        band_rows(minhash_from_shingles(sh, id_col), id_col), "eager")
    pairs = materialize(
        near_dup_pairs(corpus, id_col, text_col, n, threshold), "eager")
    clusters = materialize(dup_clusters(pairs), "eager")
    return {"corpus": corpus, "pairs": pairs, "clusters": clusters,
            "shingles": sh, "bands": bands}


def init_near_dup_table(spark: SparkSession, docs: DataFrame,
                        state_path: str, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5) -> TxTable:
    """Bootstrap the index table from a corpus snapshot: build the state
    (:func:`init_near_dup_state`), pack, range-cluster, create. Files are
    clustered by (frame, key) and the table keeps per-frame key stats,
    so a fold's delete clauses rewrite only the files whose narrow key
    range holds a touched key — a frame packed into one wide file would
    make every keyed delete rewrite the whole frame."""
    packed = pack_near_dup_state(
        init_near_dup_state(docs, id_col, text_col, n, threshold))
    packed = packed.repartitionByRange(
        "frame", F.coalesce(F.col("doc_id"), F.col("doc_a")))
    return TxTable.create(
        spark, packed, state_path,
        stat_cols=["frame", "doc_id", "doc_a", "doc_b", "cluster_id"])


@scope()
def fold_cdc_near_dup(changes: DataFrame, st: TxTable,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, threshold: float = 0.5):
    """Fold ONE change-data-feed window into the near-dup index table
    ``st`` (:func:`init_near_dup_table` layout) — the composition of the
    lakehouse tier's CDC feed (``TxTable.read_changes`` / the
    ``txlog_cdc`` stream: rows tagged ``_change_type`` insert/delete)
    with the two incremental dedup operators. Returns ``(delete_clauses,
    inserts)`` for :meth:`~.txlog.TxTable.apply_delta`, so both the
    compute and the state WRITE are ∝ the increment's neighborhood,
    while the index stays exactly equal to a from-scratch batch
    recompute (pytest-pinned, tests/test_txlog_stream.py).

    The feed is FILE-grain copy-on-write: a row carried unchanged
    through a rewrite appears as both delete and insert, so the fold
    first nets the window (:func:`~.incremental.net_changes`) — untouched
    rows cancel and cost nothing downstream. Net inserts are UPSERTS: an
    id in the insert set sheds its old rows first, which makes re-folding
    an already-applied window reproduce the same state (a replayed doc
    never meets its own stale copy in the incremental join).

    Every state read is either a stat-pruned keyed probe
    (:meth:`TxTable.read_keys` on the frame + key columns) or the banded
    index probe itself (batch bands equi-joined against the stored band
    frame — :func:`near_dup_pairs_incremental`, batch×corpus plus
    batch×batch, never corpus×corpus). Nothing reconstructs a frame
    just to rewrite it. Exactness, per frame:

    - corpus/shingles/bands: a deleted-or-upserted doc's rows are
      dropped by (frame, doc_id) and the increment's rows appended —
      identical to anti-join ∪ append.
    - pairs: an edge dies iff it touches a deleted id (probed from
      BOTH endpoints), and every new edge touches the batch
      (signatures are per-document).
    - clusters: only components containing a deleted id or incident to
      a new edge can change label or split/merge (every edge lies
      within one component); those components' members are probed, the
      surviving sub-edge set plus the new edges re-labels with the
      same min-label :func:`dup_clusters`, and singletons drop out by
      deletion — all other labels are untouched and untouched rows are
      never rewritten.
    """
    net = materialize(net_changes(changes, [id_col, text_col]), "eager")
    is_ins = F.col("_change_type") == "insert"
    net_ins = net.filter(is_ins).select(id_col, text_col)
    net_del = net.filter(~is_ins).select(id_col, text_col)
    # Upsert discipline: an id arriving in the insert set sheds its old
    # rows first, keeping folds idempotent.
    del_ids = materialize(net_del.select(id_col)
                          .unionByName(net_ins.select(id_col)).distinct(),
                          "eager")

    def fr(tag):
        return F.lit(tag).alias("frame")

    # New edges: banded probe of the batch against the STORED index
    # (post-delete view — the anti-joins below are on the probe inputs,
    # not on a rewritten frame).
    packed = st.read()
    sh_c = (packed.filter(F.col("frame") == "shingles")
            .select(id_col, "hv").join(del_ids, id_col, "left_anti"))
    bands_c = (packed.filter(F.col("frame") == "bands")
               .select(id_col, "band_id", "band_hash")
               .join(del_ids, id_col, "left_anti"))
    if net_ins.isEmpty():
        new_pairs = None
    else:
        new_pairs = materialize(near_dup_pairs_incremental(
            None, net_ins, id_col, text_col, n, threshold,
            corpus_index={"shingles": sh_c, "bands": bands_c}), "eager")

    # Components that can change: those holding a deleted id, plus
    # those incident to a new edge.
    ends = del_ids
    if new_pairs is not None:
        ends = ends.unionByName(
            new_pairs.select(F.col("doc_a").alias(id_col))
            .unionByName(new_pairs.select(F.col("doc_b").alias(id_col)))
        ).distinct()
    ends = materialize(ends, "eager")
    touched = (st.read_keys(ends.select(fr("clusters"), F.col(id_col)
                                        .alias("doc_id")),
                            ["frame", "doc_id"])
               .select("cluster_id").distinct())
    members = materialize(
        st.read_keys(touched.select(fr("clusters"), "cluster_id"),
                     ["frame", "cluster_id"]).select("doc_id"), "eager")
    # Surviving edges inside the touched components (doc_a membership
    # suffices — both endpoints share the component), minus dead ones.
    sub = (st.read_keys(members.select(fr("pairs"),
                                       F.col("doc_id").alias("doc_a")),
                        ["frame", "doc_a"])
           .select("doc_a", "doc_b", "jaccard")
           .join(F.broadcast(del_ids.select(F.col(id_col)
                                            .alias("doc_a"))),
                 "doc_a", "left_anti")
           .join(F.broadcast(del_ids.select(F.col(id_col)
                                            .alias("doc_b"))),
                 "doc_b", "left_anti")
           .select("doc_a", "doc_b", "jaccard"))
    edges = (sub if new_pairs is None
             else sub.unionByName(new_pairs.select(*sub.columns)))
    relabeled = dup_clusters(edges)

    # Assemble the per-frame delta for ONE atomic apply_delta commit.
    def keyed(tag, kdf, *cols):
        return kdf.select(fr(tag), *cols)

    doc_key = F.col(id_col).alias("doc_id")
    cluster_dead = (members.select(F.col("doc_id"))
                    .unionByName(ends.select(doc_key)).distinct())
    delete_clauses = [
        (["frame", "doc_id"], keyed("corpus", del_ids, doc_key)),
        (["frame", "doc_id"], keyed("shingles", del_ids, doc_key)),
        (["frame", "doc_id"], keyed("bands", del_ids, doc_key)),
        (["frame", "doc_a"],
         keyed("pairs", del_ids, F.col(id_col).alias("doc_a"))),
        (["frame", "doc_b"],
         keyed("pairs", del_ids, F.col(id_col).alias("doc_b"))),
        (["frame", "doc_id"], keyed("clusters", cluster_dead, "doc_id")),
    ]
    sh_ins = shingle_hashes(net_ins, id_col, text_col, n)
    inserts = pack_near_dup_state({
        "corpus": net_ins,
        "pairs": (new_pairs if new_pairs is not None
                  else sub.limit(0)),
        "clusters": relabeled,
        "shingles": sh_ins,
        "bands": band_rows(minhash_from_shingles(sh_ins, id_col), id_col),
    }).repartition("frame")
    return delete_clauses, inserts


def contamination_hits(corpus: DataFrame, benchmark: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 3) -> DataFrame:
    """Benchmark decontamination: per corpus document, the number of
    DISTINCT benchmark n-grams it contains (the GPT-3/PaLM-style n-gram
    overlap test; remove or flag any doc with hits before training so
    eval benchmarks aren't memorized).

    100 TB shape: the benchmark side is eval-suite sized (MBs) — its
    distinct n-gram hash set broadcasts, so the corpus side is ONE scan:
    shingle row-locally, broadcast-semi-join (no shuffle), then a
    map-side-combinable count per doc_id. The corpus is never shuffled on
    the n-gram key. Reference analog: P4's anti-membership filter
    (stg_weather_raw.sql:21-25) lifted from file grain to n-gram grain.
    """
    bench = (shingle_hashes(benchmark, id_col, text_col, n)
             .select("hv").distinct())
    corp = shingle_hashes(corpus, id_col, text_col, n)
    return (
        corp.join(F.broadcast(bench), "hv", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def contamination_attribution(corpus: DataFrame, benchmark: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              n: int = 3) -> DataFrame:
    """Attribution step after :func:`contamination_hits` flags a doc:
    WHICH benchmark document does each contaminated corpus doc overlap
    most? Output (doc_id, bench_doc, n_shared) — the triage table a
    decontamination review reads (is this a benchmark quote, a shared
    boilerplate header, or a real leak?). Ties resolve to the smallest
    benchmark id, so the argmax is deterministic.

    100 TB shape: the benchmark (id, hv) pair set broadcasts (eval
    suites are MBs by contract — same bound as the membership set);
    the equi-join fans out ONLY over actual benchmark-shared n-grams;
    the per-(corpus, bench) count and the per-doc argmax are BOTH
    map-side-combinable aggregates (argmax = max of a (count, -id)
    struct — no window, no second shuffle beyond the count's own).
    """
    bench = (shingle_hashes(benchmark, id_col, text_col, n)
             .select(F.col(id_col).alias("bench_doc"), "hv"))
    corp = shingle_hashes(corpus, id_col, text_col, n)
    shared = (corp.join(F.broadcast(bench), "hv")
              .groupBy(id_col, "bench_doc")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared")))
    return (shared.groupBy(id_col)
            .agg(F.max(F.struct(
                F.col("n_shared"),
                (-F.col("bench_doc")).alias("__nb"))).alias("__b"))
            .select(id_col,
                    (-F.col("__b.__nb")).cast("bigint").alias("bench_doc"),
                    F.col("__b.n_shared").alias("n_shared")))


def hot_ngrams(docs: DataFrame, min_df: int, top: int,
               id_col: str = "doc_id", text_col: str = "text",
               n: int = 3) -> DataFrame:
    """Boilerplate / memorization-risk detection: the ``top`` n-grams by
    document frequency among those appearing in at least ``min_df``
    distinct documents (headers, license blocks, templated spans — the
    things repeated verbatim across a crawl).

    100 TB shape — the n-gram STRING universe never shuffles:

    1. count document frequency on the 8-byte ``hv`` hashes
       (``shingle_hashes`` is already distinct per doc), map-side
       combinable, then TakeOrderedAndProject for the top set;
    2. recover the strings for that top set only: a second row-local
       shingling pass filtered by the broadcast hot-hash set — work
       ∝ corpus scan, result ∝ ``top``.

    The string↔hash mapping is treated 1:1 (48-bit md5 slice; a
    collision would merge two n-grams' counts — vanishing at any
    realistic universe size, and identical on the oracle side which
    counts the same hashes).
    """
    counts = (
        shingle_hashes(docs, id_col, text_col, n)
        .groupBy("hv").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .orderBy(F.col("df").desc(), "hv")
        .limit(top)
    )
    sh = (
        ngram_occurrences(docs, id_col, text_col, n)
        .select(F.col("shingle").alias("ngram"),
                base_hash48(F.col("shingle")).alias("hv"))
    )
    # Filter by the broadcast hot set BEFORE any dedupe: the distinct
    # then runs over ≤ top×docs surviving rows, never the string universe.
    return (
        sh.join(F.broadcast(counts), "hv")
        .select("ngram", F.col("df").cast("bigint").alias("df"))
        .distinct()
    )


def scrub_hot_ngrams(docs: DataFrame, min_df: int, top: int,
                     id_col: str = "doc_id", text_col: str = "text",
                     n: int = 3) -> DataFrame:
    """Boilerplate REMOVAL — the C4-style rewrite step that
    :func:`hot_ngrams` only detects: every token position covered by any
    corpus-hot n-gram occurrence is dropped and the remaining tokens are
    rejoined, per document. (C4 removes boilerplate *lines*; this corpus
    has no line structure, so the span unit is the n-gram — reference has
    no text pipeline at all, this is a driver-contract LLM-data op.)

    100 TB shape — no string universe ever shuffles and nothing is
    quadratic:

    1. hot set: document frequency on 8-byte shingle hashes (map-side
       combinable) → top-``top`` — a ``top``-bounded set that broadcasts;
    2. coverage: one posexplode + per-doc ``lead`` window marks hot START
       positions (same shape as :func:`ngram_occurrences`), each start
       fans out to its ``n`` covered positions — work ∝ hot occurrences,
       not positions²;
    3. rewrite: kept = tokens anti-joined against covered positions on
       (doc, pos), reassembled with one per-doc sort_array(collect_list)
       — bounded by document length, shuffled on ``id_col`` only.

    Documents whose every token is covered survive with empty text (the
    left join back to the corpus), so downstream length filters — not
    silent row loss — decide their fate.

    Output: ``(id_col, clean_text, n_tokens, n_removed)``.
    """
    from pyspark.sql import Window

    hot = (
        shingle_hashes(docs, id_col, text_col, n)
        .groupBy("hv").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .orderBy(F.col("df").desc(), "hv")
        .limit(top)
        .select("hv")
    )
    tokpos = (
        _spread(docs.select(id_col, text_col), id_col)
        .select(id_col,
                F.posexplode(tokens(F.col(text_col))).alias("pos", "t0"))
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    sh = tokpos
    parts = ["t0"] + [f"t{k}" for k in range(1, n)]
    for k in range(1, n):
        sh = sh.withColumn(f"t{k}", F.lead("t0", k).over(w))
    starts = (
        sh.filter(F.col(parts[-1]).isNotNull())
        .select(id_col, "pos",
                base_hash48(F.concat_ws(" ", *parts)).alias("hv"))
    )
    covered = (
        starts.join(F.broadcast(hot), "hv")
        .select(id_col,
                F.explode(F.sequence(F.col("pos"),
                                     F.col("pos") + (n - 1))).alias("pos"))
        .distinct()
    )
    kept = tokpos.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("pos", "t0"))).alias("ks"))
        .select(id_col,
                F.expr("concat_ws(' ', transform(ks, s -> s.t0))")
                .alias("clean_text"),
                F.size("ks").cast("bigint").alias("n_kept"))
    )
    base = docs.select(
        id_col, F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"))
    return (
        base.join(rebuilt, id_col, "left")
        .select(id_col,
                F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                "n_tokens",
                (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
                .cast("bigint").alias("n_removed"))
    )


def dup_span_stats(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 3) -> DataFrame:
    """Span-level duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): per document, the
    fraction of its n-gram positions whose n-gram also appears in at
    least one OTHER document. Doc-level dedup misses partially-copied
    text; this measures it without a suffix array.

    Shape: n-gram occurrences (with multiplicity) stay row-local until
    ONE equi-join on the 8-byte hash against the document-frequency
    frame, then a partial-aggregatable per-doc rollup. The df frame is
    corpus-vocabulary-sized — at warehouse scale swap the join for a
    broadcast Bloom filter of the df≥2 set (recall-exact for counting
    up to the filter's false-positive rate); the exact join shape is
    kept here because it is oracle-checkable.
    """
    occ = (
        ngram_occurrences(docs, id_col, text_col, n)
        .select(id_col, base_hash48(F.col("shingle")).alias("hv"))
    )
    df_ = (occ.select(id_col, "hv").distinct()
           .groupBy("hv").agg(F.count(F.lit(1)).alias("df")))
    return (
        occ.join(df_, "hv")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_spans"),
             F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_dup"))
        .select(id_col,
                F.col("n_spans").cast("bigint").alias("n_spans"),
                F.col("n_dup").cast("bigint").alias("n_dup_spans"),
                F.round(F.col("n_dup") / F.col("n_spans"), 6)
                .alias("dup_span_frac"))
    )


def gram_string_array(text_col, n: int):
    """Row-local ordered ARRAY of n-gram STRINGS (space-joined), one
    per token position; index i (0-based) = the gram starting at token
    i+1. The token array binds ONCE as a higher-order lambda variable
    (``transform(array(tokens(text)), w -> ...)``) so the regex
    tokenizer runs exactly once per ROW — referencing ``tokens(text)``
    as a plain subexpression instead re-evaluates it wherever
    CollapseProject inlines it (see ``ngram_occurrences``) — and each
    gram is ONE slice + join, O(n·token_len) chars. (The previous
    zip_with-over-shifted-slices chain concatenated through every
    intermediate order — O(n²) char copying; rewriting it this way
    halved both 8-gram dup-span queries at sf0.1: coverage 5.0 → 2.5 s,
    top-spans 2.8 → 1.5 s.)
    ``sequence()`` is guarded because stop < start generates a
    DESCENDING sequence, not an empty one."""

    def build(w):
        pos = F.when(
            F.size(w) >= n,
            F.sequence(F.lit(1), F.size(w) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(pos, lambda i: F.array_join(F.slice(w, i, n),
                                                       " "))

    return F.element_at(F.transform(F.array(tokens(text_col)), build), 1)


def gram_string_array_chained(text_col, n: int):
    """CLOSURE-FREE twin of :func:`gram_string_array` (zip_with chain —
    the pre-round-9 construction): kept because the fast form's inner
    lambda closes over the outer ``w`` lambda variable, and Spark 4.1
    cannot evaluate a pandas UDF whose input contains such a nested
    closure in a STREAMING plan ([INTERNAL_ERROR] Cannot evaluate
    expression, reproduced in test_streaming_ops) — batch plans handle
    it fine. The streaming twins feed their UDFs from this form; a
    property test pins both forms to identical output. Slower (O(n²)
    char copying through intermediate orders) but the streaming twins
    are fixture-scale by design; the batch scans use the fast form."""
    w = tokens(text_col)
    acc = w
    for k in range(1, n):
        shifted = F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(0)))
        acc = F.zip_with(
            acc, shifted,
            lambda a, b: F.when(a.isNull() | b.isNull(),
                                F.lit(None).cast("string"))
            .otherwise(F.concat_ws(" ", a, b)))
    return F.filter(acc, lambda x: x.isNotNull())


def shingle_hash_array_chained(text_col, n: int):
    """Closure-free twin of :func:`shingle_hash_array` for streaming
    plans (see :func:`gram_string_array_chained`)."""
    return F.transform(gram_string_array_chained(text_col, n),
                       lambda s: base_hash48(s))


def shingle_hash_array(text_col, n: int):
    """Row-local shingle-hash ARRAY column — the window-free twin of
    :func:`ngram_occurrences` for contexts where a window is unavailable
    (streaming) or a per-row array is wanted outright. The gram set is
    exactly ``ngram_occurrences``' (property-tested); construction notes
    in :func:`gram_string_array`.
    """
    return F.transform(gram_string_array(text_col, n),
                       lambda s: base_hash48(s))


def _dup_span_starts(docs: DataFrame, id_col: str, text_col: str,
                     span_len: int, bloom: bool = False) -> DataFrame:
    """(id, pos) of every length-``span_len`` token window whose 8-byte
    gram hash occurs 2+ times corpus-wide (multiplicity) — the shared
    head of :func:`dup_span_coverage` (metric) and
    :func:`exact_substring_scrub` (action).

    Two value-identical tiers (pytest-pinned equal, plus a direct
    no-false-negative probe assertion — tests/test_scale_features.py):

    ``bloom=False`` (default, the bench shape): ONE gram scan — the
    position rows shuffle once by the 8-byte hash and a partition-wide
    count window (``count(*) over (partition by hv)``) prices each
    gram in place, then c≥2 filters row-locally. (The pre-r15 form was
    a count agg + verify equi-join: broadcast-cheap on the join, but
    the count branch and the probe branch each re-ran the whole
    tokenize→gram→md5 scan — the single most expensive expression
    chain in the suite, measured 1.25 s/scan at sf0.1; the window form
    reads 2.1→1.1 s steady. It also removes the broadcast of the
    dup-gram set, the scaling cliff the bloom tier existed to dodge.)
    Skew note: one degenerate gram repeated ~10⁹ times would pin its
    window partition to one task; the bloom tier below stays the
    escape hatch there (its verify equi-join is AQE-skew-splittable).

    ``bloom=True`` (the 100 TB tier): the position table is built once
    and localCheckpointed (the Lee et al. shape — ExactSubstr
    materializes its window table, ~20 B/token spread across
    executors; the gram+md5 build dominates and must not run per
    branch), the count≥2 set is summarized as a fixed-size Bloom
    (:func:`bloom_words_from_hv`, ≤ 2048 words on the driver) whose
    probes prefilter positions ROW-LOCALLY before the verify
    equi-join. No false negatives by construction (every inserted
    hash passes its own probes); the join against the exact set
    removes the bounded false positives, so the output is exactly the
    default tier's. This tier exists for the regime where the
    dup-gram set outgrows broadcast and the verify join becomes a
    real shuffle: the prefilter then cuts the shuffled positions to
    dups + FPs (sf0.1 ratios: 235 704 → 21 543 + ~5% FP of the
    clean rest; FP ≈ (1−e^(−kn/m))^k, m sized to the dup-gram
    cardinality). At sf0.1 it is measurably SLOWER (2.7 s vs 1.85 —
    the checkpoint + Bloom-build actions add two driver-synchronous
    jobs whose fixed cost exceeds the shuffle they remove, PLANS.md
    r10), which is why it is opt-in rather than the default."""
    sp = (_spread(docs.select(id_col, text_col), id_col)
          .select(
        id_col,
        F.posexplode(shingle_hash_array(F.col(text_col), span_len))
        .alias("pos0", "hv"))
        .select(id_col, (F.col("pos0") + 1).alias("pos"), "hv"))
    if not bloom:
        from pyspark.sql import Window
        w = Window.partitionBy("hv")
        return (sp.withColumn("c", F.count(F.lit(1)).over(w))
                .filter(F.col("c") >= 2).select(id_col, "pos"))
    sp = materialize(sp, "eager")
    dup_set = (sp.groupBy("hv").agg(F.count(F.lit(1)).alias("c"))
               .filter(F.col("c") >= 2).select("hv"))
    words = F.lit(bloom_words_from_hv(dup_set))
    return (sp.filter(bloom_probe(words, F.col("hv")))
            .join(dup_set, "hv")
            .select(id_col, "pos"))


def dup_span_coverage(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", span_len: int = 8,
                      bloom: bool = False) -> DataFrame:
    """Exact-substring duplication COVERAGE (Lee et al. 2022's
    ExactSubstr metric, window-hash form): per document, how many of
    its tokens lie inside at least one length-``span_len`` token window
    that occurs 2+ times in the corpus (counting multiplicity — a
    within-doc repeat is duplication too, unlike :func:`dup_span_stats`
    which counts distinct-doc frequency of 3-gram positions).

    The union of overlapping duplicated windows is computed EXACTLY
    without materializing per-token rows: among a doc's duplicated
    start positions in order, each contributes
    ``min(pos − lag(pos), span_len)`` covered tokens (``span_len`` for
    the first) — the classic merged-interval telescoping sum, here a
    single per-doc lag window. All integer arithmetic; the only float
    is the final display ratio.

    Scale shape: grams stay row-local (``shingle_hash_array``); the
    dup-start table comes from :func:`_dup_span_starts` — one gram
    scan with a single positions-by-hash shuffle and a partition-wide
    count window by default, or the checkpointed-position-table +
    Bloom-prefilter tier with ``bloom=True`` for degenerate hot-gram
    skew (value-identical, tier tradeoffs measured in the helper's
    docstring). The lag window is partitioned per doc
    (document-bounded, never corpus-ordered).
    """
    from pyspark.sql import Window

    dup = _dup_span_starts(docs, id_col, text_col, span_len, bloom)
    w = Window.partitionBy(id_col).orderBy("pos")
    cov = (dup.withColumn(
        "contrib",
        F.coalesce(F.least(F.col("pos") - F.lag("pos").over(w),
                           F.lit(span_len)), F.lit(span_len)))
        .groupBy(id_col)
        .agg(F.sum("contrib").alias("covered"),
             F.count(F.lit(1)).alias("n_dup")))
    base = docs.select(
        id_col,
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"))
    return (base.join(cov, id_col, "left")
            .select(id_col, "n_tokens",
                    F.greatest(F.col("n_tokens") - (span_len - 1),
                               F.lit(0)).cast("bigint").alias("n_spans"),
                    F.coalesce("n_dup", F.lit(0)).cast("bigint")
                    .alias("n_dup_positions"),
                    F.coalesce("covered", F.lit(0)).cast("bigint")
                    .alias("covered_tokens"),
                    F.round(F.coalesce("covered", F.lit(0))
                            / F.col("n_tokens"), 6).alias("dup_coverage")))


def _scrub_rewrite(docs: DataFrame, dup: DataFrame, id_col: str,
                   text_col: str, span_len: int) -> DataFrame:
    """Row-local ExactSubstr rewrite shared by the scrub family: per
    document, drop every token position covered by a duplicated window
    and rejoin the rest in order.

    Pre-r15 shape: explode EVERY token into a row, anti-join against
    the exploded covered positions, then ``collect_list`` + sort back
    per doc — two corpus-token-sized shuffles. Here the only shuffled
    rows are the dup STARTS (grouped to one int array per affected
    doc), joined back to the corpus; coverage expansion, token
    filtering and reassembly all run row-locally. Per-doc work is
    O(tokens × covered positions) interpreted-HOF time — bounded by
    document length at ANY corpus size, so the token-shuffle removal
    is pure win at scale (measured 2.4 → 2.0 s for the rewrite stage
    at sf0.1, and it drops two Exchanges + a distinct from the plan).

    Output: one row per input doc —
    ``(id_col, clean_text, n_tokens, n_kept)`` (n_kept = tokens
    surviving; untouched docs pass through with n_kept = n_tokens;
    clean_text is whitespace-normalized, same as the exploded form).
    """
    starts = dup.groupBy(id_col).agg(F.collect_list("pos").alias("_ss"))
    toks = tokens(F.col(text_col))
    covered = F.array_distinct(F.flatten(F.transform(
        F.col("_ss"), lambda s: F.sequence(s, s + (span_len - 1)))))
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct((i + 1).alias("pos"),
                                                t.alias("t"))),
        lambda s: ~F.array_contains(covered, s["pos"]))
    # covered positions all lie in [1, n_tokens] (starts ≤ n−L+1), so
    # n_kept = n_tokens − |covered| without a second filter pass
    return (_spread(docs.select(id_col, text_col), id_col)
            .join(starts, id_col, "left")
            .select(
                id_col,
                F.when(F.col("_ss").isNull(),
                       F.concat_ws(" ", toks))
                .otherwise(F.concat_ws(
                    " ", F.transform(kept, lambda s: s["t"])))
                .alias("clean_text"),
                F.size(toks).cast("bigint").alias("n_tokens"),
                F.when(F.col("_ss").isNull(), F.size(toks))
                .otherwise(F.size(toks) - F.size(covered))
                .cast("bigint").alias("n_kept")))


def exact_substring_scrub(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", span_len: int = 8,
                          bloom: bool = False) -> DataFrame:
    """ExactSubstr deduplication as an ACTION (Lee et al. 2022) — the
    removal step :func:`dup_span_coverage` only measures: every token
    covered by a length-``span_len`` window that occurs 2+ times in the
    corpus (multiplicity — both copies are scrubbed, the conservative
    variant) is dropped and the remaining tokens are rejoined per
    document, in order. The reference has no text pipeline; this is a
    driver-contract LLM-data op (same contract as
    :func:`scrub_hot_ngrams`, whose hot set is top-k by document
    frequency rather than the full count≥2 window set).

    100 TB shape — the same three bounded stages as the C4 scrub:

    1. dup starts: :func:`_dup_span_starts` (one gram scan, positions
       shuffled once by hash, partition-wide count window; ``bloom=True``
       for the Bloom-prefiltered at-scale tier; work ∝ dup positions,
       not positions²);
    2. coverage + rewrite: the dup starts group to one array per
       affected doc and join back to the corpus; window expansion,
       token filtering and reassembly run ROW-LOCALLY
       (:func:`_scrub_rewrite`) — work ∝ document length, zero
       token-sized shuffles.

    Fully-duplicated documents survive with empty text (left join back
    to the corpus) so downstream length gates decide their fate.

    Output: ``(id_col, clean_text, n_tokens, n_removed)``.
    """
    dup = _dup_span_starts(docs, id_col, text_col, span_len, bloom)
    return (_scrub_rewrite(docs, dup, id_col, text_col, span_len)
            .select(id_col, "clean_text", "n_tokens",
                    (F.col("n_tokens") - F.col("n_kept"))
                    .cast("bigint").alias("n_removed")))


def scrub_effect_summary(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", span_len: int = 8
                         ) -> DataFrame:
    """Did the scrub WORK? One corpus-level row comparing exact-substring
    dup coverage BEFORE vs AFTER one :func:`exact_substring_scrub` pass —
    the closed-loop composition (action → re-measure) of this family.

    Residual ``covered_after`` is not forced to zero: removing a span
    makes its neighbors adjacent, which can CREATE new repeated windows
    across the seam, and text repeated ≥3 times can leave echoes — a
    one-pass scrub is a contraction, not a fixpoint (Lee et al. iterate).
    The number this query reports is exactly that residual.

    Scale shape — the dup-start frame is computed ONCE and
    localCheckpointed (dup-position-sized, ~20 B/row), then reused by
    BOTH consumers (the before-metric's telescoping lag window and the
    row-local :func:`_scrub_rewrite`) instead of letting each branch
    recompute the gram scan; the after-metric necessarily re-shingles
    the rebuilt text (it is a different corpus). Token-count note: a
    fully-scrubbed document re-measures as 1 token (tokenizing ''
    yields [''] on both engines) — the same convention every tokenizer
    query in this repo uses for empty text.

    Output: ``(tokens_before, covered_before, coverage_before,
    tokens_after, covered_after, coverage_after)``.
    """
    from pyspark.sql import Window

    # shared: both consumers (the before-metric window and the scrub
    # rewrite) live inside the ONE final action; the first branch to
    # execute populates the cache the other reads (block locks
    # serialize concurrent computation of a partition, so the gram scan
    # still runs once).
    dup = materialize(_dup_span_starts(docs, id_col, text_col, span_len),
                      "shared")
    w = Window.partitionBy(id_col).orderBy("pos")
    before = (dup.withColumn(
        "contrib",
        F.coalesce(F.least(F.col("pos") - F.lag("pos").over(w),
                           F.lit(span_len)), F.lit(span_len)))
        .agg(F.coalesce(F.sum("contrib"), F.lit(0)).cast("bigint")
             .alias("covered_before")))
    tok_before = docs.agg(
        F.sum(F.size(tokens(F.col(text_col)))).cast("bigint")
        .alias("tokens_before"))
    # shared: the after-metric's self-join + base branch would
    # otherwise re-execute the whole scrub rewrite three times; the
    # rebuilt corpus is docs-sized, exactly what a real pipeline would
    # have written to the lake before re-measuring.
    clean = materialize(_scrub_rewrite(docs, dup, id_col, text_col, span_len)
                        .select(id_col, F.col("clean_text").alias(text_col)),
                        "shared")
    after = (dup_span_coverage(clean, id_col, text_col, span_len)
             .agg(F.sum("n_tokens").cast("bigint").alias("tokens_after"),
                  F.sum("covered_tokens").cast("bigint")
                  .alias("covered_after")))
    return (tok_before.crossJoin(before).crossJoin(after)
            .select("tokens_before", "covered_before",
                    F.round(F.col("covered_before") / F.col("tokens_before"),
                            6).alias("coverage_before"),
                    "tokens_after", "covered_after",
                    F.round(F.col("covered_after") / F.col("tokens_after"),
                            6).alias("coverage_after")))


def exact_substring_scrub_fixpoint(docs: DataFrame, id_col: str = "doc_id",
                                   text_col: str = "text",
                                   span_len: int = 8,
                                   passes: int = 2) -> DataFrame:
    """Iterated ExactSubstr scrub toward the FIXPOINT (Lee et al. 2022
    iterate for exactly the reason :func:`scrub_effect_summary`'s
    residual documents: one pass is a contraction, not a fixpoint —
    removing a span makes its neighbors adjacent, which can CREATE new
    repeated windows across the seam, and text repeated ≥3 times leaves
    echoes). Runs a FIXED ``passes`` scrub passes and reports the
    residual coverage ladder: one row per pass index 0..``passes``
    (pass 0 = the untouched corpus), each measuring the corpus as it
    stood after that many passes. Fixed unroll rather than a
    data-dependent stop so the plan is deterministic and the DuckDB
    oracle unrolls the same k passes as CTEs (the repo's trained-tier
    convention); a converged corpus makes later passes identity, which
    the ladder shows as repeated zeros — the convergence proof IS the
    output.

    Scale shape — per pass, the dup-start frame is computed ONCE and
    localCheckpointed (dup-position-sized), reused by BOTH the pass's
    telescoping coverage metric and the row-local
    :func:`_scrub_rewrite` (the :func:`scrub_effect_summary`
    discipline); each rebuilt corpus is localCheckpointed before the
    next pass re-shingles it (a genuinely different corpus — the
    re-shingle is irreducible, exactly the iterated cost Lee et al.
    pay). Work per pass ∝ the REMAINING dup occurrences, so passes get
    monotonically cheaper; all shuffles stay keyed on the 8-byte hash
    or ``id_col``. Token convention: a fully
    scrubbed document re-measures as 1 token (tokenizing '' yields ['']
    on both engines).

    Output: ``(pass_no, tokens, covered_tokens, coverage)`` — coverage
    is non-increasing in ``pass_no`` on a plain pairwise-duplicated
    corpus, but is measured HONESTLY rather than forced monotone: a
    scrub pass can make two previously-distinct documents identical, a
    new (even larger) duplicate whose transient residual SPIKE only the
    next pass removes — both behaviors property-pinned in
    tests/test_scale_features.py. Tokens, by contrast, only shrink.
    """
    from functools import reduce

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    rows: list[DataFrame] = []
    cur = docs.select(id_col, F.col(text_col).alias(text_col))
    for p in range(passes + 1):
        dup = materialize(_dup_span_starts(cur, id_col, text_col, span_len),
                          "eager")
        tok_total = cur.agg(
            F.sum(F.size(tokens(F.col(text_col)))).cast("bigint")
            .alias("tokens"))
        covered_total = (dup.withColumn(
            "contrib",
            F.coalesce(F.least(F.col("pos") - F.lag("pos").over(w),
                               F.lit(span_len)), F.lit(span_len)))
            .agg(F.coalesce(F.sum("contrib"), F.lit(0)).cast("bigint")
                 .alias("covered_tokens")))
        rows.append(tok_total.crossJoin(covered_total).select(
            F.lit(p).cast("bigint").alias("pass_no"), "tokens",
            "covered_tokens",
            F.round(F.col("covered_tokens") / F.col("tokens"), 6)
            .alias("coverage")))
        if p == passes:
            break
        if dup.isEmpty():
            # Converged: the dup-start frame is empty, so this and every
            # later pass is the identity — emit the remaining ladder rows
            # from the CURRENT corpus without re-shingling it again (the
            # isEmpty probe is driver-cheap: dup is already an eager
            # localCheckpoint). Values are bit-identical to running the
            # dead passes: tokens unchanged, covered 0, coverage written
            # as the same round(0/tokens) expression so an empty corpus
            # still yields NULL on both engines.
            for q in range(p + 1, passes + 1):
                rows.append(tok_total.select(
                    F.lit(q).cast("bigint").alias("pass_no"), "tokens",
                    F.lit(0).cast("bigint").alias("covered_tokens"),
                    F.round(F.lit(0).cast("bigint") / F.col("tokens"), 6)
                    .alias("coverage")))
            break
        # shared: the next pass's eager ``dup`` checkpoint job fills
        # this cache en route, and the pass's token/coverage readers
        # then hit it — one construction job per pass instead of two.
        # ``dup`` stays eager: the isEmpty convergence probe reads it.
        cur = materialize(_scrub_rewrite(cur, dup, id_col, text_col, span_len)
                          .select(id_col, F.col("clean_text").alias(text_col)),
                          "shared")
    return reduce(DataFrame.unionAll, rows)


# Bloom-filter decontamination sizing. 2^16 bits in 32-bit words keeps
# every shift inside non-negative BIGINT range on both engines (1 << 31
# fits; a 64-bit word would need 1 << 63, which overflows DuckDB's
# signed shift). k = 3 probes puts the false-positive rate near
# (k·n/m)^k — ~1e-4 at a few thousand benchmark n-grams.
BLOOM_BITS = 1 << 16
BLOOM_WORD_BITS = 32
BLOOM_K = 3


def _bloom_pos(hv, j: int):
    """Probe position j for shingle hash ``hv`` via Kirsch–Mitzenmacher
    double hashing: pos_j = (h1 + j·h2) mod m with h1/h2 sliced from the
    EXISTING 48-bit md5-derived hash (h2 forced odd so the stride spans
    the table) — k probes cost zero additional hash computations, and
    the oracle reproduces the identical integer math."""
    h1 = hv % BLOOM_BITS
    h2 = (F.shiftright(hv, 16) % BLOOM_BITS).bitwiseOR(F.lit(1))
    return (h1 + F.lit(j) * h2) % BLOOM_BITS


def bloom_words_from_hv(hv_df: DataFrame) -> list:
    """Dense Bloom words (``BLOOM_BITS / BLOOM_WORD_BITS`` ints) from a
    frame of pre-hashed 48-bit gram values — the generic tail of
    :func:`bloom_build`, reused by the dup-span prefilter
    (:func:`_dup_span_starts`) whose input is already an hv set. The
    collect is bounded by the word count (2048), never the set size."""
    pos = hv_df.select(F.explode(F.array(
        *[_bloom_pos(F.col("hv"), j) for j in range(BLOOM_K)])).alias("pos"))
    words = (
        # call_function: the python shiftleft wrapper only takes a
        # literal int shift; the SQL function itself takes any expression
        pos.select((F.col("pos") / BLOOM_WORD_BITS).cast("int").alias("word"),
                   F.call_function(
                       "shiftleft", F.lit(1).cast("long"),
                       (F.col("pos") % BLOOM_WORD_BITS).cast("int"))
                   .alias("mask"))
        .groupBy("word").agg(F.bit_or("mask").alias("mask"))
        .collect()
    )
    dense = [0] * (BLOOM_BITS // BLOOM_WORD_BITS)
    for r in words:
        dense[r["word"]] = r["mask"]
    return dense


def bloom_probe(words, hv) -> "F.Column":
    """AND of the ``BLOOM_K`` membership probes of ``hv`` against an
    ``F.lit(list)`` word-array column — O(1) ``element_at`` per probe
    (probe-representation history in :func:`bloom_contamination_hits`).
    True for every inserted hash (no false negatives); true for a
    bounded fraction of absent hashes (false positives), so callers
    needing exactness follow with a verify join against the exact set."""
    probe = None
    for j in range(BLOOM_K):
        pos = _bloom_pos(hv, j)
        word = F.element_at(words, (pos / BLOOM_WORD_BITS).cast("int") + 1)
        bit = (pos % BLOOM_WORD_BITS).cast("int")
        p = F.call_function("shiftright", word, bit) \
            .bitwiseAND(F.lit(1)) == 1
        probe = p if probe is None else (probe & p)
    return probe


def bloom_build(benchmark: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", n: int = 3) -> list:
    """Build the benchmark's Bloom filter as a dense list of
    ``BLOOM_BITS / BLOOM_WORD_BITS`` integer words (driver-side, 8 KB).

    This is :func:`contamination_hits`' scale path: the exact distinct
    n-gram set of a large eval/benchmark union (or of *prior training
    runs* in cross-run decontamination) can outgrow a broadcast hash
    set, but the Bloom summary is FIXED-size regardless of how many
    n-grams went in — the membership test degrades to a bounded
    false-positive rate instead of failing to broadcast. The build is
    one map-side-combinable ``bit_or`` aggregate over ≤ BLOOM_K rows per
    distinct n-gram; the collect is bounded by the word count (2048),
    never the benchmark size — same driver-artifact pattern as the
    trained-quantizer cache (plans/llmdata.py).
    """
    bench = (shingle_hashes(benchmark, id_col, text_col, n)
             .select("hv").distinct())
    return bloom_words_from_hv(bench)


def bloom_contamination_hits(corpus: DataFrame, benchmark: DataFrame | None,
                             id_col: str = "doc_id", text_col: str = "text",
                             n: int = 3,
                             prebuilt: list | None = None) -> DataFrame:
    """Benchmark decontamination through a Bloom filter: per corpus doc,
    the count of distinct n-grams the filter reports as benchmark
    members (a SUPERSET of :func:`contamination_hits` — no false
    negatives, FP rate set by the sizing constants above; pytest asserts
    the superset relation against the exact operator).

    100 TB shape: the filter ships as one fixed-size 2048-word array
    literal inside the plan itself, so the membership test is fully
    ROW-LOCAL — three double-hashed O(1) ``element_at`` word fetches +
    bit tests per distinct n-gram (no hashing beyond the n-gram's own
    48-bit key), zero joins, zero broadcast-build shuffle on the corpus
    side; the only corpus shuffle is the final per-doc count (map-side
    combinable). Compare: the exact path broadcast-joins a hash set
    that grows with the benchmark.

    Probe-representation history (all measured at sf0.1, round 9): the
    hex-string literal + per-probe ``conv()`` parse ran 2.55 s; a
    '0'/'1' bit-string was NO better because positional ``substring``
    on a long UTF8String is O(position), and 64 KB exceeds the JVM
    constant-pool string limit besides; the array-literal
    ``element_at`` form (once rejected on an older measurement) now
    runs the query at ~1.75 s steady.

    Pass ``prebuilt`` (a :func:`bloom_build` result) to scan against an
    already-materialized filter — the normal serving shape, since a
    benchmark set changes far less often than the corpus is scanned.
    """
    dense = prebuilt if prebuilt is not None else bloom_build(
        benchmark, id_col, text_col, n)
    # The filter rides as ONE F.lit(list) 32-bit-word ARRAY literal:
    # probe j is element_at(words, word_idx) >> bit & 1 — O(1) per
    # probe in Spark 4.1 (see the probe-representation history in the
    # docstring: the hex-string+conv() form measured 2.55 s and the
    # '0'/'1' bit-string was no better because positional substring on
    # a long UTF8String is O(position) and 64 KB breaks the JVM
    # constant-pool limit; this array form runs ~1.75 s steady).
    words = F.lit(dense)
    corp = shingle_hashes(corpus, id_col, text_col, n)
    hit = None
    for j in range(BLOOM_K):
        pos = _bloom_pos(F.col("hv"), j)
        word = F.element_at(words, (pos / BLOOM_WORD_BITS).cast("int") + 1)
        bit = (pos % BLOOM_WORD_BITS).cast("int")
        probe = F.call_function("shiftright", word, bit) \
            .bitwiseAND(F.lit(1)) == 1
        hit = probe if hit is None else hit & probe
    return (
        corp.filter(hit)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )


PAGERANK_D = 0.85


def pagerank(pairs: DataFrame, iters: int = 3, d: float = PAGERANK_D,
             src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """PageRank over the (undirected) duplicate graph — the centrality
    signal for picking a cluster's canonical representative (the most-
    connected member rather than min-id) and for spotting template hubs
    that near-duplicate into everything. Fixed ``iters`` steps of

        pr(v) ← (1−d)/N + d·Σ_{u∼v} pr(u)/deg(u)

    from the uniform start. The symmetric edge set means every node has
    degree ≥ 1 and receives a contribution each step, so no dangling-
    mass term is needed.

    Determinism/parity: neighbor sums are exact decimal(38,18) sums of
    identically-computed doubles, rounded at 12 dp on conversion back —
    order-free across partitions, so the fixed-iteration loop unrolls
    into a DuckDB oracle like the Lloyd and power-iteration unrolls.
    Scale shapes: each step is one shuffle keyed on the destination
    node (partial-aggregatable); state per iteration is |nodes| rows
    over persisted edge/degree leaves — the fixed-iteration chain runs
    lazily inside the consumer's one action (no mid-loop driver sync).
    Per-key work is bounded by degree; a template
    hub with extreme degree is the same skew exposure as the cluster
    ops (AQE skew-join handles it at scale).

    Output: (doc_id, degree, pagerank) for every node of the graph.
    """
    # Share the edge list and degrees: without this every iteration's
    # join re-runs whatever pipeline produced `pairs` (for the near-dup
    # graph that is the full banded discovery — iters× the dominant
    # cost). Both fill during the one unavoidable driver action (the N
    # count); the fixed-iteration loop stays lazy — no driver reads a
    # mid-loop frame — and its plan is iters (=3) joins over cached
    # leaves.
    edges = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"),
                                  F.col(src).alias("v"))), "shared")
    deg = materialize(edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg")),
                      "shared")
    n = deg.count()
    base = (1.0 - d) / n
    pr = deg.select(F.col("u").alias("node"), F.lit(1.0 / n).alias("pr"))
    for _ in range(iters):
        wt = (pr.join(deg, pr.node == deg.u)
              .select("u", (F.col("pr") / F.col("deg")).alias("w")))
        pr = (
            edges.join(wt, "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.round(F.sum(F.col("w").cast("decimal(38,18)"))
                         .cast("double"), 12).alias("s"))
            .select("node",
                    (F.lit(base) + F.lit(d) * F.col("s")).alias("pr"))
        )
    return (
        pr.join(deg, pr.node == deg.u)
        .select(F.col("node").alias("doc_id"),
                F.col("deg").cast("bigint").alias("degree"),
                F.round("pr", 6).alias("pagerank"))
    )


def kcore(pairs: DataFrame, k: int = 2, rounds: int = 4) -> DataFrame:
    """k-core of the dup graph by ``rounds`` synchronous peel rounds:
    drop every vertex of degree < k, recompute degrees, repeat. The
    surviving dense cores are the template-farm signal — a vertex in
    chains and trees peels away, one in a mutually-duplicated family
    does not — complementing triangles (local density) and components
    (reachability). Returns (doc_id, core_degree) for survivors.

    Fixed ``rounds`` (not run-to-fixpoint) so the loop unrolls into the
    DuckDB oracle exactly like PageRank/Lloyd; pytest witnesses that
    the default converges on the test corpora (round r == round r-1)
    and a hypothesis property test checks the converged result against
    a true-fixpoint reference on random graphs.

    Scale shape: each round is one map-side-combinable degree aggregate
    plus two keyed LEFT SEMI joins (edge endpoint ∈ survivors) — no
    broadcast of vertex sets needed, no all-pairs anything; each
    round's edge set is materialized as ``"truncate"``: the plan
    truncates to a LogicalRDD per round (essential — each round
    references the previous one three times, so an untruncated tree
    would grow 3^r) while the materialization of the final stage rides
    the consumer's ONE action (no driver decision reads a round).
    Real k-core peel counts are tiny in
    practice (peeling is monotone: total work is bounded by
    Σ rounds · |E|)."""
    edges = materialize(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"),
                         F.col("doc_a").alias("v"))), "truncate")
    for _ in range(rounds):
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        edges = materialize(
            edges.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi"),
            "truncate")
    return (edges.groupBy("u").agg(F.count(F.lit(1)).alias("core_degree"))
            .select(F.col("u").alias("doc_id"), "core_degree"))


def triangle_list(pairs: DataFrame) -> DataFrame:
    """Triangles in the (canonically ordered doc_a < doc_b) dup graph —
    the clique-density diagnostic that separates template FAMILIES
    (mutually-similar groups: every pair passes verification) from
    similarity CHAINS (A~B~C without A~C), which components and
    PageRank cannot distinguish. Returns (doc_a, doc_b, doc_c) with
    a < b < c, one row per triangle.

    Scale shape: the textbook ordered-wedge join — because edges are
    canonically ordered, each triangle is produced EXACTLY once (no
    /6 dedup factor): wedges (a<b<c) form by joining edges on the
    middle vertex, then a second equi-join checks the closing (a, c)
    edge. Both joins are keyed shuffles; wedge count is Σ deg² over
    the verified pair graph, which the near-dup pipeline's hot-bucket
    cap already bounds (see `docs_dup_degree_histogram` for the skew
    read-out)."""
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    return (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3"))
              & (F.col("c") == F.col("c3")), "left_semi")
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                F.col("c").alias("doc_c"))
    )
