"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how ANN is actually deployed on a lake:

- ``knn_bruteforce`` — exact cosine top-k. The query set is broadcast
  (it is small by construction); each executor scans its slice of the
  corpus once. O(N·Q) dot products, embarrassingly parallel, no shuffle
  except the final per-query top-k (TakeOrdered-shaped).
- ``ivf_assign`` / ``knn_ivf`` — the scale path: a coarse quantizer
  assigns every vector to its nearest centroid bucket; queries probe only
  their own bucket, cutting the scan by ~the number of buckets. The
  centroid set is tiny and broadcast. (A full IVF would train centroids
  with k-means; the operator takes any centroid DataFrame — training is
  orthogonal and pluggable.)

All arithmetic is double-precision and sequential over the array
(``aggregate`` folds left), which makes results bit-comparable with the
DuckDB oracle's ``list_``-function implementations.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..artifacts import materialize, scope


def _dot(a: Column, b: Column) -> Column:
    prod = F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                      lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a.cast("array<double>"), F.lit(0.0),
                              lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<float|double> columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


# NOTE on the pair-scoring pattern below: each side's norm is computed
# ONCE per vector (before the join) and the per-pair work is only the
# dot product — the pair count is quadratic in bucket size, the norm
# count is not. Same expressions in the same fold order as `cosine()`,
# so values stay bit-identical and oracle parity is unaffected.
_PAIR_COS = (lambda: _dot(F.col("q_vec"), F.col("c_vec"))
             / (F.col("__qn") * F.col("__cn")))


def knn_bruteforce(corpus: DataFrame, queries: DataFrame, k: int,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self excluded).

    ``queries`` is force-broadcast — it is the small side by contract.
    Output: (query_id, neighbor_id, cos_sim, rank).
    """
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec")) \
        .withColumn("__qn", _norm(F.col("q_vec")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec")) \
        .withColumn("__cn", _norm(F.col("c_vec")))
    from pyspark.sql import Window
    # Plans as BroadcastNestedLoopJoin — here that IS the right physical
    # shape: brute force means every corpus row scores against every
    # broadcast query; there is no equi-key to hash on. The corpus side
    # streams, nothing shuffles until the per-query top-k.
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _PAIR_COS().alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"),
                F.col("rank").cast("int").alias("rank"))
    )


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               cent_id: str = "centroid_id", nprobe: int = 1) -> DataFrame:
    """Assign every vector to its ``nprobe`` max-cosine centroids (the
    IVF coarse quantizer). Centroids are broadcast; one pass over the
    corpus; ties break to the lowest centroid id for determinism.

    ``nprobe=1`` is the storage-side assignment (each vector lives in
    exactly one bucket). ``nprobe>1`` is the QUERY-side recall lever: a
    query probes its P nearest buckets, catching neighbors that fell just
    across a Voronoi boundary — the standard IVF recall/cost dial (probe
    cost grows linearly with P, recall asymptotes to exact).
    """
    cent = centroids.select(F.col(cent_id), F.col(vec_col).alias("cent_vec"))
    # Deliberate broadcast cross join (plans as BNLJ): every vector scores
    # against every centroid — the quantizer is tiny by contract, so this
    # is a streaming pass over the corpus, not a shuffle.
    scored = (
        corpus.select(id_col, vec_col)
        .join(F.broadcast(cent))
        .select(id_col, vec_col, cent_id,
                cosine(F.col(vec_col), F.col("cent_vec")).alias("cs"))
    )
    if nprobe == 1:
        # Partial-aggregatable argmax: max_by's struct ordering key
        # (cs, -centroid_id) reproduces the window's (cs DESC, id ASC)
        # tiebreak — max cs first, then min centroid id; NaN sorts
        # largest under both shapes. Unlike a row_number window, this
        # HashAggregate combines map-side: the k·N scored rows collapse
        # to N *before* the exchange — a k× shuffle reduction on the
        # storage-assignment path (and once per Lloyd iteration).
        best = scored.groupBy(id_col).agg(
            F.max_by(
                F.struct(F.col(vec_col).alias("v"),
                         F.col(cent_id).alias("c")),
                F.struct(F.col("cs").alias("cs"),
                         (-F.col(cent_id)).alias("nc"))).alias("__b"))
        return best.select(id_col, F.col("__b.v").alias(vec_col),
                           F.col("__b.c").alias("bucket"))
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy(F.col("cs").desc(), F.col(cent_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(id_col, vec_col, F.col(cent_id).alias("bucket"))
    )


def cosine_pandas(a: Column, b: Column) -> Column:
    """Vectorized cosine via an Arrow-batched pandas UDF (numpy): the
    scale path when the corpus side is large — one numpy pass per batch
    instead of an interpreted per-element fold. Numerically within ~1e-12
    of `cosine` (numpy may reorder the sum), so use `cosine` where
    bit-exact oracle parity matters and this where throughput does.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        xm = np.stack(xs.to_numpy()).astype(np.float64)
        ym = np.stack(ys.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", xm, ym)
        return pd.Series(
            dots / (np.linalg.norm(xm, axis=1) * np.linalg.norm(ym, axis=1)))

    return _cos(a, b)


def knn_bruteforce_vectorized(corpus: DataFrame, queries: DataFrame, k: int,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """`knn_bruteforce` with the Arrow/numpy cosine — identical output
    modulo last-ulp ties (tests assert agreement)."""
    from pyspark.sql import Window
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                cosine_pandas(F.col("q_vec"), F.col("c_vec")).alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"),
                F.col("rank").cast("int").alias("rank"))
    )


LSH_PLANES = 6  # 2^6 = 64 possible sign buckets


def lsh_plane_weights(n_planes: int, dim: int,
                      tag: str = "hp") -> list[list[float]]:
    """The md5-derived hyperplane weights, computed once driver-side.

    Same constants both engines: ``int(md5(f"{tag}|{j}|{d}")[:12], 16) /
    2^48 - 0.5`` equals DuckDB ``('0x'||substr(md5('<tag>|'||j||'|'||d),
    1,12))::BIGINT / 2^48 - 0.5`` — md5 is md5, so the oracle can rebuild
    the identical quantizer in SQL with no shipped constants. ``tag``
    names the draw: the LSH buckets use ``hp``; independent consumers
    (random projection) pick their own tag so their weights are an
    independent draw from the same construction."""
    import hashlib

    return [
        [int(hashlib.md5(f"{tag}|{j}|{d}".encode()).hexdigest()[:12], 16)
         / float(2 ** 48) - 0.5
         for d in range(dim)]
        for j in range(n_planes)
    ]


def lsh_assign(corpus: DataFrame, n_planes: int = LSH_PLANES,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int | None = None) -> DataFrame:
    """Random-hyperplane LSH bucketing: bucket = the sign bits of the
    vector's dot products with ``n_planes`` fixed md5-derived hyperplanes
    (see :func:`lsh_plane_weights`).

    Entirely row-local — ZERO shuffles: each plane's dot is an
    order-stable sequential fold of the vector against a literal weight
    array (the earlier shape exploded dims × planes through two shuffles,
    a 6× row fan-out). Sequential folding also makes the sign bit
    deterministic and bit-identical to DuckDB's ``list_dot_product``
    fold, so a dot near 0 cannot flip between engines.

    ``dim`` is read from the first row when not given (one tiny action;
    pass it explicitly in pipelines that know their embedding width).
    """
    if dim is None:
        # Probe the first NON-NULL vector: a NULL lead row must not send
        # the whole (otherwise valid) corpus down the empty-frame path.
        row = (corpus.filter(F.col(vec_col).isNotNull())
               .select(vec_col).first())
        if row is None:
            # no non-null vector anywhere: nothing to bucket — return the
            # empty-bucket frame with the output schema instead of
            # failing a pipeline whose embeddings table isn't populated yet
            return corpus.select(
                id_col, vec_col, F.lit(None).cast("int").alias("bucket"))
        dim = len(row[0])
    weights = lsh_plane_weights(n_planes, dim)
    # One F.expr with the full expression: building this tree from
    # n_planes × dim F.lit() Column objects costs a py4j round-trip per
    # node (~2 s of driver time at 6×64); a single SQL string is parsed
    # JVM-side in one call. repr() of a Python float round-trips exactly,
    # so the literals are bit-identical to lsh_plane_weights.
    terms = []
    for j, wrow in enumerate(weights):
        arr = "array(" + ", ".join(f"{x!r}D" for x in wrow) + ")"
        dot = (f"aggregate(zip_with(cast({vec_col} as array<double>), {arr},"
               " (x, y) -> x * y), 0.0D, (acc, t) -> acc + t)")
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
    bucket_sql = "cast((" + " + ".join(terms) + ") as int)"
    return corpus.select(id_col, vec_col, F.expr(bucket_sql).alias("bucket"))


def knn_lsh(corpus: DataFrame, queries: DataFrame, k: int,
            n_planes: int = LSH_PLANES, id_col: str = "vec_id",
            vec_col: str = "embedding", dim: int | None = None) -> DataFrame:
    """Approximate top-k via sign-bucket LSH: probe only vectors sharing
    the query's bucket (1/2^n_planes of the corpus in expectation).

    Pass ``dim`` (the embedding width, known from table schema/metadata in
    any real pipeline) to make the whole job graph launch with zero driver
    actions; when omitted, one non-null row is probed and reused for both
    sides."""
    from pyspark.sql import Window
    if dim is None:
        row = (corpus.filter(F.col(vec_col).isNotNull())
               .select(vec_col).first())  # probe dim once, reuse both sides
        dim = len(row[0]) if row is not None else None
    assigned = lsh_assign(corpus, n_planes, id_col, vec_col, dim)
    q = (lsh_assign(queries, n_planes, id_col, vec_col, dim)
         .select(F.col(id_col).alias("query_id"),
                 F.col(vec_col).alias("q_vec"), "bucket")
         .withColumn("__qn", _norm(F.col("q_vec"))))
    c = (assigned.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("c_vec"), "bucket")
         .withColumn("__cn", _norm(F.col("c_vec"))))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "bucket",
                _PAIR_COS().alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "bucket",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"),
                F.col("rank").cast("int").alias("rank"))
    )


def cosine_near_dup_pairs(corpus: DataFrame, centroids: DataFrame,
                          threshold: float, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          pair_scores: DataFrame | None = None) -> DataFrame:
    """Embedding-cosine near-dup detection, bucketed — the vector twin of
    MinHash/LSH: vectors only compare within their coarse-quantizer
    bucket, never all-pairs. Approximate by construction (a pair split
    across buckets is missed — the standard IVF recall trade-off; raise
    the bucket count's nprobe or use multiple quantizers to tighten it).
    Output: (id_a, id_b, bucket, cos_sim) for pairs ≥ threshold.

    The quantizer assignment is persisted across its two self-join
    branches (and across the edge-symmetrization double-read when
    :func:`~..neardup.dup_clusters` consumes the pairs) — the same
    materialize-the-shared-stage pattern as the shingle/band frames in
    ``near_dup_pairs``; on a real lake this is the assignment table
    written once and read by every consumer.
    """
    scores = (pair_scores if pair_scores is not None
              else cosine_pair_scores(corpus, centroids, id_col, vec_col))
    return (
        scores.filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", "bucket",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"))
    )


def cosine_pair_scores(corpus: DataFrame, centroids: DataFrame,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """All co-bucket pair scores with the UNROUNDED cosine retained —
    the scoring half of :func:`cosine_near_dup_pairs`, separable so one
    materialized pair table can serve every threshold-consuming query
    (near-dup cut, semantic dedup, calibration histogram). Thresholding
    must happen on ``cos_raw`` (the raw double both engines compute
    identically), never on the display-rounded value — a pair whose raw
    cosine sits just below the cut but rounds up would otherwise flip
    across engines. Output: (id_a, id_b, bucket, cos_raw)."""
    assigned = materialize(ivf_assign(corpus, centroids, id_col, vec_col),
                           "shared")
    a = (assigned.select(F.col(id_col).alias("id_a"),
                         F.col(vec_col).alias("q_vec"), "bucket")
         .withColumn("__qn", _norm(F.col("q_vec"))))
    b = (assigned.select(F.col(id_col).alias("id_b"),
                         F.col(vec_col).alias("c_vec"), "bucket")
         .withColumn("__cn", _norm(F.col("c_vec"))))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", _PAIR_COS())
        .select("id_a", "id_b", "bucket", "cos_raw")
    )


def train_ivf_centroids(corpus: DataFrame, k: int, iters: int = 3,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Spherical k-means for the IVF coarse quantizer — an *iterative*
    algorithm expressed purely in DataFrame ops (SURVEY §2: iterative
    algorithms are the one family the oracle can't express; checked by
    cohesion tests instead).

    - deterministic: seeds are the k lowest-id vectors, ties in
      assignment break to the lowest centroid id — reruns are identical;
    - each iteration is two shuffles: assign (broadcast centroids, no
      shuffle) then element-wise mean via posexplode → groupBy
      (bucket, dim) → re-assemble with sort_array(collect_list);
    - centroids stay tiny, so every pass over the corpus is a stream.

    Empty buckets keep their previous centroid (standard Lloyd fix).
    """
    from pyspark.sql import Window

    centroids = (corpus.orderBy(id_col).limit(k)
                 .select(F.col(id_col).alias("centroid_id"),
                         F.col(vec_col).cast("array<double>").alias(vec_col)))
    # re-key centroid ids to 0..k-1 for stability across corpora
    centroids = centroids.select(
        (F.row_number().over(Window.orderBy("centroid_id")) - 1)
        .alias("centroid_id"), vec_col)
    for _ in range(iters):
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
        # decimal-sum means (order-free, rounded to 6 dp): bit-identical
        # across engines and partitionings, which is what lets the
        # fixed-iteration oracle unroll this loop in SQL — a float avg()
        # would drift by partial-sum order and flip downstream
        # assignments on ties
        dims = (
            assigned.select("bucket", F.posexplode(F.col(vec_col))
                            .alias("pos", "x"))
            .groupBy("bucket", "pos")
            .agg(F.round(F.sum(F.col("x").cast("decimal(25,12)"))
                         .cast("double") / F.count(F.lit(1)), 6).alias("m"))
        )
        new = (
            dims.groupBy("bucket")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "m")))
                 .alias("pm"))
            .select(F.col("bucket").alias("centroid_id"),
                    F.expr("transform(pm, s -> s.m)").alias(vec_col))
        )
        # localCheckpoint truncates the lineage each pass — without it the
        # plan stacks assign+aggregate+union per iteration and any action
        # re-executes the whole history (the classic iterative-algorithm
        # trap; MLlib checkpoints for the same reason). Checkpoint NEW
        # (k tiny rows) rather than the union: new feeds both the union
        # and the empty-bucket anti-join below, so an unmaterialized plan
        # would run the full corpus assign+aggregate twice per iteration.
        # On a multi-executor cluster prefer a reliable checkpoint dir
        # (localCheckpoint blocks die with their executor); in this
        # single-JVM engine local is the right cost.
        new = materialize(new, "eager")
        # carry forward centroids whose bucket went empty; all inputs are
        # checkpointed (prev centroids / new), so the union's lineage
        # stays one level deep
        kept = centroids.join(new.select("centroid_id"), "centroid_id",
                              "left_anti")
        centroids = new.unionByName(kept)
    return centroids


def knn_ivf(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
            k: int, id_col: str = "vec_id",
            vec_col: str = "embedding", nprobe: int = 1) -> DataFrame:
    """Approximate top-k: brute force *within the query's probed buckets
    only*.

    Both sides go through the same quantizer — storage side with one
    bucket per vector, query side with ``nprobe`` buckets — then the
    search join is equi-keyed on ``bucket``: a hash join whose probe side
    is nprobe/n_buckets of the corpus, which is the whole point at
    100 TB. Raising ``nprobe`` buys recall linearly in probe cost without
    touching the stored assignment. A neighbor reachable through several
    probed buckets is counted once (scores dedupe on the pair before
    ranking). Output: (query_id, neighbor_id, bucket, cos_sim, rank).
    """
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    return knn_ivf_preassigned(assigned, queries, centroids, k,
                               id_col, vec_col, nprobe)


def knn_ivf_preassigned(assigned: DataFrame, queries: DataFrame,
                        centroids: DataFrame, k: int,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        nprobe: int = 1) -> DataFrame:
    """:func:`knn_ivf` with the STORAGE-side assignment supplied — the
    serving path over a PERSISTED index (operators/annindex.py): the
    (id, vector, bucket) frame comes from the maintained index table
    instead of being recomputed per query, so serving cost is the probe
    join alone. Bit-identical to :func:`knn_ivf` because the assignment
    is a deterministic pure function of (vector, centroids)."""
    from pyspark.sql import Window
    q = (ivf_assign(queries, centroids, id_col, vec_col, nprobe=nprobe)
         .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
                 "bucket")
         .withColumn("__qn", _norm(F.col("q_vec"))))
    c = (assigned.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("c_vec"), "bucket")
         .withColumn("__cn", _norm(F.col("c_vec"))))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "bucket",
                _PAIR_COS().alias("cos_raw"))
    )
    if nprobe > 1:
        # a (query, neighbor) pair can meet in at most one bucket today
        # (storage side holds one bucket per vector), but keep the dedupe
        # explicit so multi-assignment storage variants stay correct
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "bucket",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"),
                F.col("rank").cast("int").alias("rank"))
    )


def quantize_int8(corpus: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage-scale path
    for embedding columns: 4× smaller than float32 (32× vs the float64
    compute form), with the per-vector scale kept alongside for
    dequantization ``x ≈ q · scale``.

    ``scale = max(|x|) / 127``; ``q_i = round(x_i / scale)`` ∈ [-127,
    127]. Entirely row-local (higher-order functions, ZERO shuffles) and
    arithmetic-deterministic: max/divide/round on identical IEEE doubles
    — the DuckDB oracle reproduces it bit-for-bit with list_ functions.
    All-zero vectors quantize to zeros with scale 0 (guarded division).
    Output: (id, scale, q array<int>).
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.aggregate(v, F.lit(0.0),
                       lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.when(
        scale == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("int"))
    ).otherwise(
        F.transform(v, lambda x: F.round(x / scale).cast("int")))
    return corpus.select(
        F.col(id_col),
        F.round(scale, 9).alias("scale"),
        q.alias("q"))


def knn_bruteforce_int8(corpus: DataFrame, queries: DataFrame, k: int,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Compressed-domain exact-shape kNN: both sides are int8-quantized
    (:func:`quantize_int8`) and cosine is computed over the INTEGER
    codes — the per-vector scales cancel in the cosine ratio, so no
    dequantization happens at search time. This is the 100 TB read-path
    win: the scan touches 4× fewer bytes and the arithmetic is exact in
    doubles (|q|≤127 ⇒ every dot ≪ 2^53), at the cost of quantization
    error in the scores (recall vs full precision is property-tested).
    Same plan shape as :func:`knn_bruteforce`: broadcast queries, corpus
    streams, one top-k shuffle. Output: (query_id, neighbor_id, cos_sim,
    rank).
    """
    from pyspark.sql import Window
    qc = quantize_int8(corpus, id_col, vec_col)
    qq = quantize_int8(queries, id_col, vec_col)
    q = (qq.select(F.col(id_col).alias("query_id"),
                   F.col("q").alias("q_vec"))
         .withColumn("__qn", _norm(F.col("q_vec"))))
    c = (qc.select(F.col(id_col).alias("neighbor_id"),
                   F.col("q").alias("c_vec"))
         .withColumn("__cn", _norm(F.col("c_vec"))))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _PAIR_COS().alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"),
                F.col("rank").cast("int").alias("rank"))
    )


BINARY_WORD_BITS = 32


def binary_quantize(corpus: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Sign (1-bit) quantization: a 64-dim float vector compresses to TWO
    32-bit words packed in BIGINTs — 128× smaller than float32, the most
    aggressive tier of the quantization family (int8 4×, PQ 64×, binary
    128×+). Bit ``i`` of a word is set iff the corresponding coordinate
    is strictly positive (zeros clear — deterministic, no sign(0)
    ambiguity), so Hamming distance between codes approximates angular
    distance (Charikar 2002: P[bit differs] = θ/π for random-rotation
    sign sketches; raw sign bits are the degenerate rotation, good
    enough for a shortlist that exact rerank then fixes).

    Packing is row-local and JVM-side: each 32-slot half is zip_with'ed
    against a literal power-of-two array and summed (distinct powers ⇒
    sum ≡ bitwise OR, no carries; max word = 2³²−1 ≪ 2⁵³ so the
    arithmetic is exact and the DuckDB oracle reproduces it
    bit-for-bit). Two words rather than one keeps every shift < 63 in
    BOTH engines (no sign-bit overflow divergence); general dims extend
    to ``ceil(dim/32)`` words. Output: (id, code_lo, code_hi).
    """
    v = F.col(vec_col).cast("array<double>")

    def pack(offset: int):
        powers = F.array(*[F.lit(1 << i).cast("bigint")
                           for i in range(BINARY_WORD_BITS)])
        half = F.slice(v, offset + 1, BINARY_WORD_BITS)
        return F.aggregate(
            F.zip_with(half, powers,
                       lambda x, p: F.when(x > 0, p)
                       .otherwise(F.lit(0).cast("bigint"))),
            F.lit(0).cast("bigint"), lambda a, b: a + b)

    return corpus.select(F.col(id_col),
                         pack(0).alias("code_lo"),
                         pack(BINARY_WORD_BITS).alias("code_hi"))


def knn_hamming_rerank(corpus: DataFrame, queries: DataFrame, k: int,
                       n_candidates: int, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Binary-sketch retrieval funnel: stage 1 shortlists
    ``n_candidates`` per query by HAMMING distance over the packed sign
    codes (:func:`binary_quantize`) — two XOR + popcount ops per pair,
    the cheapest possible scan (16 bytes/vector, whole-stage codegen,
    no float math) — then stage 2 re-scores only those pairs at full
    precision, exactly like :func:`knn_int8_rerank`'s stage 2.

    Scale shapes: stage 1 streams the 16-byte codes against broadcast
    query codes (the coarse scan reads 128× fewer bytes than float32);
    the candidate set (|queries|·n_candidates rows) is broadcast so
    full-precision vectors of non-candidates prune map-side and never
    shuffle; both stage-2 joins are BroadcastHashJoins. Both rankings
    tiebreak on neighbor_id, making the funnel deterministic. Output:
    (query_id, neighbor_id, hamming, cos_sim, rank) — ``hamming`` kept
    so recall diagnostics can see the stage-1 signal.
    """
    from pyspark.sql import Window

    bq = binary_quantize(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("code_lo").alias("q_lo"), F.col("code_hi").alias("q_hi"))
    bc = binary_quantize(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("code_lo").alias("c_lo"), F.col("code_hi").alias("c_hi"))
    ham = (F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
           + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi"))))
    coarse = (bc.join(F.broadcast(bq),
                      F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      ham.cast("int").alias("hamming")))
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id"))
    cand = (coarse.withColumn("r1", F.row_number().over(w1))
            .filter(F.col("r1") <= n_candidates)
            .select("query_id", "neighbor_id", "hamming"))

    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("q_vec"))
         .withColumn("__qn", _norm(F.col("q_vec"))))
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("c_vec"))
         .withColumn("__cn", _norm(F.col("c_vec"))))
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", "hamming",
                _PAIR_COS().alias("cos_raw"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"),
                F.col("rank").cast("int").alias("rank"))
    )


def knn_hard_negatives(corpus: DataFrame, queries: DataFrame, k: int,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """Hard-negative mining for embedding-model training: per query,
    the top-``k`` most-similar corpus vectors with a DIFFERENT label —
    the high-cosine wrong-class examples contrastive training needs
    (easy negatives teach nothing; hard ones define the margin). Same
    plan as :func:`knn_bruteforce` — broadcast queries, corpus streams,
    norms computed once per side — with the label-mismatch filter
    applied BEFORE the per-query top-k window, so negatives never
    compete with same-class vectors for the k slots. Output:
    (query_id, query_label, neighbor_id, neighbor_label, cos_sim,
    rank)."""
    from pyspark.sql import Window

    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(label_col).alias("query_label"),
                        F.col(vec_col).alias("q_vec"))
         .withColumn("__qn", _norm(F.col("q_vec"))))
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(label_col).alias("neighbor_label"),
                       F.col(vec_col).alias("c_vec"))
         .withColumn("__cn", _norm(F.col("c_vec"))))
    scored = (
        c.join(F.broadcast(q),
               F.col("neighbor_label") != F.col("query_label"))
        .select("query_id", "query_label", "neighbor_id",
                "neighbor_label", _PAIR_COS().alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "query_label", "neighbor_id",
                "neighbor_label",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"),
                F.col("rank").cast("int").alias("rank"))
    )


def pca1_projection(corpus: DataFrame, dim: int, iters: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    extra_cols: tuple = ("label",),
                    direction: tuple | None = None) -> DataFrame:
    """Principal-axis projection via FIXED-step power iteration — the
    embedding-whitening/variance-screen primitive (what SemDeDup-style
    pipelines run before clustering, and the 1-D shadow of a PCA
    dimensionality cut). Mean-centers the corpus, then iterates
    v ← normalize(Σ_i (x_i·v)·x_i) from the deterministic seed e₀ for
    ``iters`` steps, and emits each vector's projection onto the
    resulting direction. Each step provably raises the captured
    variance (Rayleigh quotient); convergence to the true top
    eigenvector needs O(log(dim)/log(λ1/λ2)) steps, so size ``iters``
    to the corpus' eigengap (the near-isotropic synthetic corpus would
    need hundreds — the fixed default keeps the demonstration and its
    unrolled oracle bounded, exactly like the Lloyd-iteration caps).

    Determinism/parity: every cross-row reduction (the per-dimension
    mean and the per-dimension Σ w·x) is an EXACT decimal(25,12) sum —
    order-free — rounded to 6 dp on conversion back to double, the same
    discipline as ``train_ivf_centroids``; normalization is row-free
    double math (IEEE sqrt/division are correctly rounded), so a DuckDB
    oracle can unroll the loop as CTEs and hash-match bit-for-bit.

    Scale shapes: each training iteration is one corpus stream
    (broadcast 64-double direction, posexplode, map-side-combinable
    decimal sums to exactly ``dim`` rows) and a ``dim``-row driver
    collect — the same bounded driver loop as Lloyd training; the
    corpus is persisted centered so iterations re-scan the projected
    columns only. Driver state is O(dim·iters), never O(rows). Pass a
    precomputed ``direction`` (the :func:`pca1_direction` artifact —
    2·dim floats, the PCA analog of a trained codebook) and the
    projection itself is a single row-local, zero-shuffle pass.
    """
    mu, v = direction if direction is not None else pca1_direction(
        corpus, dim, iters, vec_col)
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    vfin = F.array(*[F.lit(float(c)) for c in v])
    x = corpus.select(id_col, *extra_cols,
                      F.col(vec_col).cast("array<double>").alias("__v"))
    xc = x.withColumn("__c", F.zip_with(F.col("__v"), mu_lit,
                                        lambda a, b: a - b))
    return (
        xc.select(id_col, *extra_cols,
                  F.round(_dot(F.col("__c"), vfin), 6).alias("pc1"))
    )


def pca1_direction(corpus: DataFrame, dim: int, iters: int = 4,
                   vec_col: str = "embedding") -> tuple:
    """Train the (mean, direction) pair for :func:`pca1_projection` —
    the trained-artifact half, separable so callers can materialize it
    once per corpus (it is 2·dim floats) exactly like the k-means
    centroid and PQ codebook caches. Returns ``(mu, v)`` as Python
    lists of rounded/derived doubles; see :func:`pca1_projection` for
    the parity discipline."""
    import math

    x = corpus.select(F.col(vec_col).cast("array<double>").alias("__v"))
    mrows = (x.select(F.posexplode("__v").alias("pos", "xj"))
             .groupBy("pos")
             .agg(F.sum(F.col("xj").cast("decimal(25,12)")).alias("s"),
                  F.count(F.lit(1)).alias("n"))
             .orderBy("pos").collect())
    mu = [round(float(r["s"]) / float(r["n"]), 6) for r in mrows]
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    v = [1.0] + [0.0] * (dim - 1)
    with scope():
        xc = materialize(x.withColumn("__c", F.zip_with(
            F.col("__v"), mu_lit, lambda a, b: a - b)).select("__c"),
            "shared")
        for _ in range(iters):
            vlit = F.array(*[F.lit(float(c)) for c in v])
            urows = (
                xc.select(_dot(F.col("__c"), vlit).alias("w"),
                          F.posexplode("__c").alias("pos", "xj"))
                .groupBy("pos")
                .agg(F.sum((F.col("w") * F.col("xj"))
                           .cast("decimal(25,12)")).alias("s"))
                .orderBy("pos").collect())
            u = [round(float(r["s"]), 6) for r in urows]
            nrm = math.sqrt(sum(c * c for c in u))
            v = [c / nrm for c in u]
    return mu, v


def knn_int8_rerank(corpus: DataFrame, queries: DataFrame, k: int,
                    n_candidates: int, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Two-stage retrieval funnel: a cheap int8 compressed-domain pass
    (:func:`knn_bruteforce_int8`) shortlists ``n_candidates`` per query,
    then ONLY those pairs are re-scored at full precision and re-ranked
    to top ``k`` — the production recall/cost pattern (coarse scan over
    4×-fewer bytes, exact math over a per-query-bounded candidate set).

    Scale shapes: the candidate list is |queries|·n_candidates rows —
    broadcast against the corpus so the full-precision vectors of
    non-candidates are pruned map-side and never shuffle; queries are
    broadcast as in every knn operator. Both stage-2 joins are
    equi-joins (BroadcastHashJoin), so the only nested-loop scan in the
    plan is stage 1's deliberate compressed-domain pass. Ranking
    tiebreaks on neighbor_id at both stages, making the funnel
    deterministic end-to-end. Output: (query_id, neighbor_id, cos_sim,
    rank) with full-precision cosine.
    """
    from pyspark.sql import Window

    cand = knn_bruteforce_int8(corpus, queries, n_candidates,
                               id_col, vec_col).select(
        "query_id", "neighbor_id")
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("q_vec"))
         .withColumn("__qn", _norm(F.col("q_vec"))))
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("c_vec"))
         .withColumn("__cn", _norm(F.col("c_vec"))))
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", _PAIR_COS().alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"),
                F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): m sub-codebooks of n_cent entries each → a
# vector compresses to m small codes (here 8 codes of 16 → 8×4 bits = 4
# bytes vs 256 bytes of float32, a 64× cut). The compressed-domain
# scoring below reconstructs each vector from its codebook entries and
# scores with the standard cosine fold — VALUE-identical to the textbook
# ADC lookup-table formulation (the LUT merely precomputes the same
# per-subspace dot products), but expressed so the whole path stays in
# built-in expressions and is oracle-checkable bit-for-bit.
# ---------------------------------------------------------------------------


def pq_codebook(emb: DataFrame, n_cent: int = 16, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Data-derived deterministic codebook: the first ``n_cent`` corpus
    vectors (by id) donate their subvectors — the same
    take-leading-vectors convention as the IVF coarse quantizer
    (IVF_CENTROID_MAX_ID), which keeps the whole PQ chain
    SQL-expressible. A trained variant would plug per-subspace k-means
    in here (see ``train_ivf_centroids`` for the iterative pattern)."""
    return (emb.filter(F.col(id_col) < n_cent)
            .select(F.col(id_col).cast("int").alias("cid"),
                    F.col(vec_col).cast("array<double>").alias("cvec")))


def _sub_sqdist(v, c, j: int, subdim: int):
    """Squared L2 between subspace ``j`` slices — sequential fold of
    (x-y)², the same op sequence as DuckDB's
    ``list_dot_product(diff, diff)``, so doubles match bit-for-bit."""
    diff = F.zip_with(F.slice(v, j * subdim + 1, subdim),
                      F.slice(c, j * subdim + 1, subdim),
                      lambda x, y: (x - y) * (x - y))
    return F.aggregate(diff, F.lit(0.0), lambda acc, t: acc + t)


def pq_codes(corpus: DataFrame, codebook: DataFrame, dim: int, m: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-subspace nearest-codebook-entry codes (columns c0..c{m-1}).

    Deliberate broadcast cross join against the n_cent-row codebook
    (BNLJ — no equi-key exists), then ONE partial-aggregatable
    hash aggregate: m ``min_by`` columns whose struct key (dist, cid)
    reproduces argmin-with-lowest-id-tiebreak. The n_cent× row fan-out
    collapses map-side before any exchange — the same shape as
    ``ivf_assign``'s nprobe=1 path.
    """
    subdim, rem = divmod(dim, m)
    if rem:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    base = corpus.select(id_col,
                         F.col(vec_col).cast("array<double>").alias("__v"))
    dists = (
        base.join(F.broadcast(codebook))
        .select(id_col, "cid",
                *[_sub_sqdist(F.col("__v"), F.col("cvec"), j, subdim)
                  .alias(f"__d{j}") for j in range(m)])
    )
    aggs = [F.min_by(F.col("cid"),
                     F.struct(F.col(f"__d{j}"), F.col("cid"))).alias(f"c{j}")
            for j in range(m)]
    return dists.groupBy(id_col).agg(*aggs)


def pq_reconstruct(codes: DataFrame, codebook: DataFrame, dim: int,
                   m: int = 8, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Decode c0..c{m-1} back to the quantized vector: m row-local
    broadcast joins against subvector slices of the codebook, then an
    array concat — no shuffle anywhere (the codebook is config-sized)."""
    subdim, rem = divmod(dim, m)
    if rem:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    out = codes
    for j in range(m):
        sub = codebook.select(
            F.col("cid").alias(f"__cid{j}"),
            F.slice("cvec", j * subdim + 1, subdim).alias(f"__sv{j}"))
        out = out.join(F.broadcast(sub),
                       F.col(f"c{j}") == F.col(f"__cid{j}"))
    return out.select(
        id_col, F.concat(*[F.col(f"__sv{j}") for j in range(m)])
        .alias(vec_col))


def knn_pq(corpus: DataFrame, queries: DataFrame, k: int, dim: int,
           m: int = 8, n_cent: int = 16, id_col: str = "vec_id",
           vec_col: str = "embedding",
           recon_corpus: DataFrame | None = None) -> DataFrame:
    """Compressed-domain ANN: exact cosine top-k of full-precision
    queries against the PQ-RECONSTRUCTED corpus (asymmetric distance
    computation). The corpus read path shrinks 64× (4-byte codes);
    recall vs full precision is a property of codebook quality —
    asserted in pytest against the exact twin. Pass the pre-encoded
    ``recon_corpus`` (the production index table — codes are written
    once at ingest) to skip the encode pass."""
    if recon_corpus is None:
        cb = pq_codebook(corpus, n_cent, id_col, vec_col)
        recon_corpus = pq_reconstruct(
            pq_codes(corpus, cb, dim, m, id_col, vec_col),
            cb, dim, m, id_col, vec_col)
    return knn_bruteforce(recon_corpus, queries, k, id_col, vec_col)


def knn_ivfpq(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: int, dim: int, m: int = 8, n_cent: int = 16,
              id_col: str = "vec_id", vec_col: str = "embedding",
              nprobe: int = 1,
              recon_corpus: DataFrame | None = None) -> DataFrame:
    """IVF-PQ — the FAISS ``IndexIVFPQ`` composition, which is how
    billion-vector ANN actually ships: the coarse quantizer prunes the
    scan to the query's ``nprobe`` buckets (1/n_buckets of the corpus),
    and PQ compresses what is scanned (4-bit codes, 64×), scored
    asymmetrically against full-precision queries.

    List assignment uses the ORIGINAL vectors (inverted lists are built
    before compression, per the standard construction); only candidate
    scoring touches the lossy reconstruction. Both pruning and
    compression compose multiplicatively on the bytes a query reads.
    """
    from pyspark.sql import Window

    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    if recon_corpus is None:
        cb = pq_codebook(corpus, n_cent, id_col, vec_col)
        recon_corpus = pq_reconstruct(
            pq_codes(corpus, cb, dim, m, id_col, vec_col),
            cb, dim, m, id_col, vec_col)
    c = (recon_corpus.join(assigned.select(id_col, "bucket"), id_col)
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col(vec_col).alias("c_vec"), "bucket")
         .withColumn("__cn", _norm(F.col("c_vec"))))
    q = (ivf_assign(queries, centroids, id_col, vec_col, nprobe=nprobe)
         .select(F.col(id_col).alias("query_id"),
                 F.col(vec_col).alias("q_vec"), "bucket")
         .withColumn("__qn", _norm(F.col("q_vec"))))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "bucket",
                _PAIR_COS().alias("cos_raw"))
    )
    if nprobe > 1:
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "bucket",
                F.round(F.col("cos_raw"), 6).alias("cos_sim"),
                F.col("rank").cast("int").alias("rank"))
    )


def train_pq_codebook(corpus: DataFrame, dim: int, m: int = 8,
                      n_cent: int = 16, iters: int = 2,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Per-subspace L2 k-means for the PQ codebook (the trained tier —
    same relationship to :func:`pq_codebook` as
    :func:`train_ivf_centroids` has to the take-first-k quantizer; like
    all iterative training it is rows-only for the oracle and checked by
    a Lloyd-monotonicity pytest instead).

    Representation: a trained codebook stays in ``pq_codebook``'s
    (cid, cvec) shape — entry ``cid``'s subspace-``j`` centroid is the
    ``j``-th slice of ``cvec`` — so ``pq_codes``/``pq_reconstruct``/
    ``knn_pq`` consume it unchanged.

    Per iteration: one assignment pass (the partial-aggregatable
    ``pq_codes`` min_by aggregate, with the vector CARRIED through the
    aggregate — a ``first`` over the per-id-constant ``__v`` — so no
    separate corpus×corpus join is ever paid: one map-side-combinable
    shuffle per pass instead of an aggregate plus a two-sided
    sort-merge join. Locally this trades ~10% CPU (the fan-out rows
    carry the vector) for the removed join; at cluster scale the
    removed corpus-sized shuffle dominates), one element-wise mean via
    posexplode → groupBy (subspace, code, dim) — all map-side combinable
    — and a config-sized reassembly. Empty (subspace, code) cells carry
    their previous centroid slice (standard Lloyd fix).
    ``localCheckpoint`` per pass keeps plan depth constant; ``base`` is
    persisted across the ``iters`` corpus passes; seeds are the first
    ``n_cent`` vectors, so training from iters=0 IS the untrained
    codebook and distortion is non-increasing in ``iters``.
    """
    subdim, rem = divmod(dim, m)
    if rem:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    cb = materialize(pq_codebook(corpus, n_cent, id_col, vec_col), "eager")
    # cb is an eager checkpoint, so the scope can release the cached
    # corpus projection before the serve path rescans the corpus
    with scope():
        base = materialize(corpus.select(
            id_col, F.col(vec_col).cast("array<double>").alias("__v")),
            "shared")
        for _ in range(iters):
            dists = (
                base.join(F.broadcast(cb))
                .select(id_col, "cid", "__v",
                        *[_sub_sqdist(F.col("__v"), F.col("cvec"), j, subdim)
                          .alias(f"__d{j}") for j in range(m)])
            )
            assigned = dists.groupBy(id_col).agg(
                F.first("__v").alias("__v"),
                *[F.min_by(F.col("cid"),
                           F.struct(F.col(f"__d{j}"), F.col("cid")))
                  .alias(f"c{j}") for j in range(m)])
            subs = (
                assigned
                .select(F.explode(F.array(*[
                    F.struct(F.lit(j).alias("j"),
                             F.col(f"c{j}").alias("cid"),
                             F.slice("__v", j * subdim + 1, subdim)
                             .alias("sv"))
                    for j in range(m)])).alias("s"))
                .select("s.j", "s.cid", "s.sv")
            )
            # decimal-sum means rounded to 6 dp — order-free and engine-free,
            # the property that lets the fixed-iteration oracle unroll this
            # loop in SQL (same idiom as train_ivf_centroids)
            dims = (subs.select("j", "cid",
                                F.posexplode("sv").alias("pos", "x"))
                    .groupBy("j", "cid", "pos")
                    .agg(F.round(F.sum(F.col("x").cast("decimal(25,12)"))
                                 .cast("double") / F.count(F.lit(1)), 6)
                         .alias("mval")))
            new_slices = (
                dims.groupBy("j", "cid")
                .agg(F.sort_array(F.collect_list(F.struct("pos", "mval")))
                     .alias("pm"))
                .select("j", "cid",
                        F.expr("transform(pm, s -> s.mval)").alias("sv")))
            prev_slices = (
                cb.select("cid", F.explode(F.array(*[
                    F.struct(F.lit(j).alias("j"),
                             F.slice("cvec", j * subdim + 1, subdim)
                             .alias("sv"))
                    for j in range(m)])).alias("s"))
                .select(F.col("s.j").alias("j"), "cid",
                        F.col("s.sv").alias("sv_prev")))
            merged = (prev_slices.join(new_slices, ["j", "cid"], "left")
                      .select("j", "cid",
                              F.coalesce("sv", "sv_prev").alias("sv")))
            cb = materialize(
                merged.groupBy("cid")
                .agg(F.sort_array(F.collect_list(F.struct("j", "sv")))
                     .alias("js"))
                .select("cid", F.expr("flatten(transform(js, s -> s.sv))")
                        .alias("cvec")), "eager")
    return cb


def knn_pq_trained(corpus: DataFrame, queries: DataFrame, k: int, dim: int,
                   m: int = 8, n_cent: int = 16, iters: int = 2,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   codebook: DataFrame | None = None,
                   recon_corpus: DataFrame | None = None) -> DataFrame:
    """Compressed-domain kNN over a TRAINED PQ codebook — the
    quality-tier twin of :func:`knn_pq` (rows-only: iterative k-means is
    not SQL-expressible; Lloyd monotonicity is pytest-checked). Pass a
    pre-trained ``codebook`` (the production shape — codebooks are
    materialized artifacts, not retrained per query) to skip the
    training passes, and/or the pre-encoded ``recon_corpus`` (the
    production index table: codes are written once at ingest, not
    re-encoded per query) to skip the encode+reconstruct pass too;
    when omitted, both compute in-line."""
    if recon_corpus is None:
        cb = codebook if codebook is not None else train_pq_codebook(
            corpus, dim, m, n_cent, iters, id_col, vec_col)
        recon_corpus = pq_reconstruct(
            pq_codes(corpus, cb, dim, m, id_col, vec_col),
            cb, dim, m, id_col, vec_col)
    return knn_bruteforce(recon_corpus, queries, k, id_col, vec_col)


def pairwise_cosine(vectors: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """All directed pairs (id_a, id_b, sim) over a SMALL vector frame
    (candidate lists, centroid sets — bounded by contract, never a
    corpus): |V|² rows with the 6-dp-rounded cosine. Feeds
    :func:`mmr_rerank`'s redundancy term."""
    a = (vectors.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("q_vec"))
         .withColumn("__qn", _norm(F.col("q_vec"))))
    b = (vectors.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("c_vec"))
         .withColumn("__cn", _norm(F.col("c_vec"))))
    return (a.join(b, F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b",
                    F.round(_PAIR_COS(), 6).alias("sim")))


# Hard cap on the candidate list a rerank may collect to the driver —
# makes the "candidate-bounded by contract" promise explicit (guide §5:
# the driver must never hold data-sized state). 4096 candidates ≈ 16M
# psim rows worst-case, comfortably under driver limits; any first-stage
# ranker feeding a rerank emits far fewer.
MMR_MAX_CANDS = 4096


def mmr_rerank(cands: DataFrame, psim: DataFrame, k: int,
               lam: float = 0.7, id_col: str = "doc_id",
               rel_col: str = "rel") -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein '98) —
    the diversity pass every retrieval stack runs after top-k: greedily
    pick the candidate maximizing ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)``
    where S is the already-selected set (step 1 scores by relevance
    alone — no redundancy term exists yet).

    Inputs: ``cands`` (id, rel) — the k-bounded candidate list from any
    first-stage ranker — and ``psim`` (id_a, id_b, sim), the pairwise
    similarities among candidates (both directions). The greedy loop is
    inherently sequential and its inputs are candidate-bounded BY
    CONTRACT (enforced: > ``MMR_MAX_CANDS`` raises), so the selection
    runs as one bounded driver fold over the two collected frames (the
    codebook/centroid-trainer discipline), and the output scores are
    recomputed in-plan from the selection's components — two input
    jobs plus a trivial local-scan output instead of k
    driver-synchronous join jobs. Ties break on ``id_col``; scores are
    λ-combinations of 6-dp-gridded doubles (max is order-free),
    deterministic cross-engine; round at display only.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    # Greedy selection is inherently sequential; it runs as ONE bounded
    # driver fold over the two collected candidate frames (the same
    # bounded-collect discipline as the codebook/centroid trainers)
    # instead of k unrolled driver-synchronous join jobs — at k=5 the
    # unrolled form cost ~7 blocking jobs (~1.9 s) of pure scheduling
    # latency at ANY corpus size. r16: the r15 form ADDITIONALLY paid
    # two localCheckpoint jobs before the collects and re-joined the
    # checkpointed frames in the output plan — 5 blocking jobs total
    # (measured 1.35 s steady); each input is now collected DIRECTLY
    # (2 jobs: the plans execute exactly once each, same total work)
    # and the output is a literal local frame, so the timed action is a
    # trivial local scan. The collect is candidate-bounded BY CONTRACT
    # and the bound is now EXPLICIT: |cands| must stay under
    # MMR_MAX_CANDS or the operator raises rather than silently pulling
    # a corpus to the driver (guide §5).
    # Both inputs carry 6-dp-rounded doubles, and λ·rel − (1−λ)·max(sim)
    # is the same IEEE-double arithmetic the unrolled plan evaluated, so
    # the selected set and order are bit-identical; ties break on id
    # ascending, as before. The OUTPUT scores are recomputed IN-PLAN
    # from the selection's (rel, maxred) components, keeping score
    # typing/rounding in Spark.
    crows = cands.select(id_col, rel_col).limit(MMR_MAX_CANDS + 1).collect()
    if len(crows) > MMR_MAX_CANDS:
        raise ValueError(
            f"mmr_rerank candidate list exceeds MMR_MAX_CANDS "
            f"({MMR_MAX_CANDS}): the inputs are candidate-bounded by "
            f"contract — rerank a first-stage top-k, not a corpus")
    rel = {r[id_col]: r[rel_col] for r in crows
           if r[rel_col] is not None}
    sims: dict = {}
    # None sims are skipped, matching the old unrolled plan's F.max
    # (which ignores NULLs) — a NULL sim (zero-norm vector) can then
    # never crash the fold or win a max.
    max_pairs = MMR_MAX_CANDS * MMR_MAX_CANDS
    prows = psim.select("id_a", "id_b", "sim").limit(max_pairs + 1).collect()
    if len(prows) > max_pairs:
        raise ValueError(
            f"mmr_rerank psim exceeds MMR_MAX_CANDS**2 ({max_pairs}) "
            f"pairs: the pair table is candidate-bounded by contract — "
            f"pass the similarities among the reranked candidates only")
    for r in prows:
        if r["sim"] is not None:
            sims.setdefault(r["id_a"], {})[r["id_b"]] = r["sim"]
    sel: list = []  # [(id, rel, maxred_at_selection | None)]
    if rel:
        first = min(rel, key=lambda d: (-rel[d], d))
        sel.append((first, rel[first], None))
    while rel and len(sel) < k:
        chosen = {d for d, _, _ in sel}
        best = None
        for d, dr in rel.items():
            if d in chosen:
                continue
            reds = [s for s2, s in sims.get(d, {}).items()
                    if s2 in chosen]
            if not reds:
                continue  # no sim edge to the selected set: ineligible
                # (the unrolled form's inner joins drop such rows too)
            maxred = max(reds)
            score = lam * dr - (1.0 - lam) * maxred
            if best is None or (-score, d) < (-best[0], best[1]):
                best = (score, d, maxred)
        if best is None:
            break  # selection can never grow again
        sel.append((best[1], rel[best[1]], best[2]))
    if not sel:
        return (cands.select(id_col,
                             F.lit(1).cast("int").alias("mmr_rank"),
                             F.round(F.col(rel_col), 6)
                             .alias("mmr_score"))
                .limit(0))
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)
    spark = cands.sparkSession
    sel_df = spark.createDataFrame(
        [(d, i + 1, float(r), None if m is None else float(m))
         for i, (d, r, m) in enumerate(sel)],
        StructType([StructField(id_col, cands.schema[id_col].dataType,
                                False),
                    StructField("mmr_rank", IntegerType(), False),
                    StructField("__rel", DoubleType(), False),
                    StructField("__maxred", DoubleType(), True)]))
    return (sel_df
            .withColumn("mmr_score",
                        F.when(F.col("mmr_rank") == 1, F.col("__rel"))
                        .otherwise(F.lit(lam) * F.col("__rel")
                                   - F.lit(1.0 - lam)
                                   * F.col("__maxred")))
            .select(id_col, F.col("mmr_rank").cast("int")
                    .alias("mmr_rank"),
                    F.round(F.col("mmr_score"), 6).alias("mmr_score")))


def centroid_drift(emb: DataFrame, split_expr: Column | None = None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Embedding-distribution drift between two corpus halves — the
    VECTOR-modality member of the drift family (`docs_ks_drift` is the
    scalar-text lens, `events_cusum_alarms` the event-count lens): per
    dimension, the exact-decimal means of split a (``split_expr`` = 0,
    default ``vec_id % 2``) vs split b and their signed drift, plus the
    cosine between the two ROUNDED centroids carried on every row.
    The cosine is computed from the same 6-dp means both engines hash
    on, folded in pinned ``pos`` order (the :func:`label_centroids`
    medoid-scoring discipline), so no partial-sum ulp can flip it.

    Scale shape: posexplode → (split, dim) map-side partial aggregate
    over a FIXED 2×dims key space (no skew possible); the centroid
    fold and the cosine are dims-bounded expressions over one
    collected-struct row that broadcasts back — corpus size only ever
    touches the first aggregate.

    Output: ``(pos, mean_a, mean_b, drift, centroid_cos)`` — one row
    per dimension.
    """
    split = split_expr if split_expr is not None else (F.col(id_col) % 2)
    dims = emb.select(
        split.alias("h"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"))
    cm = (dims.groupBy("h", "pos")
          .agg(F.round(F.sum(F.col("x").cast("decimal(25,12)"))
                       .cast("double") / F.count(F.lit(1)), 6).alias("m")))
    p = (cm.groupBy("pos")
         .agg(F.max(F.when(F.col("h") == 0, F.col("m"))).alias("mean_a"),
              F.max(F.when(F.col("h") == 1, F.col("m"))).alias("mean_b")))
    cent = (p.agg(F.sort_array(
        F.collect_list(F.struct("pos", "mean_a", "mean_b"))).alias("pm"))
        .select(F.expr("transform(pm, s -> s.mean_a)").alias("ca"),
                F.expr("transform(pm, s -> s.mean_b)").alias("cb"))
        .select(F.round(cosine(F.col("ca"), F.col("cb")), 6)
                .alias("centroid_cos")))
    return (p.crossJoin(F.broadcast(cent))
            .select("pos", "mean_a", "mean_b",
                    F.round(F.col("mean_b") - F.col("mean_a"), 6)
                    .alias("drift"),
                    "centroid_cos"))


def label_centroids(emb: DataFrame, label_col: str = "label",
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-label cluster summary: member count, element-wise mean
    embedding, and the medoid (member closest to the mean by cosine,
    ties to the lowest id) — the aggregate a labeled corpus ships to
    monitoring/drift dashboards and seed selection.

    Float determinism is engineered with the repo's decimal-sum idiom
    (cf. weather forecast error): each component casts to an exact
    DECIMAL, the sum is order-free, one double division, round to 6.
    The medoid is then scored against that ROUNDED centroid on both
    engines, so selection can never flip on a partial-sum ulp.

    Shapes: the mean is a posexplode → (label, dim) partial aggregate;
    the centroid dim is labels-sized and broadcasts back for row-local
    medoid scoring; medoid selection is a partial-aggregatable max_by.
    """
    dims = emb.select(
        label_col,
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"))
    cm = (dims.groupBy(label_col, "pos")
          .agg(F.count(F.lit(1)).alias("n"),
               F.round(F.sum(F.col("x").cast("decimal(25,12)"))
                       .cast("double") / F.count(F.lit(1)), 6).alias("m")))
    cent = (cm.groupBy(label_col)
            .agg(F.max("n").cast("bigint").alias("n_members"),
                 F.sort_array(F.collect_list(F.struct("pos", "m")))
                 .alias("pm"))
            .select(label_col, "n_members",
                    F.expr("transform(pm, s -> s.m)").alias("centroid")))
    scored = (
        emb.select(label_col, id_col, vec_col)
        .join(F.broadcast(cent), label_col)
        .select(label_col, id_col,
                cosine(F.col(vec_col), F.col("centroid")).alias("cs"))
    )
    med = (scored.groupBy(label_col)
           .agg(F.max_by(
               F.struct(F.col(id_col).alias("mid"),
                        F.col("cs").alias("mcs")),
               F.struct(F.col("cs"), (-F.col(id_col)).alias("negid")))
               .alias("m")))
    return (cent.join(med, label_col)
            .select(label_col, "n_members", "centroid",
                    F.col("m.mid").alias("medoid_id"),
                    F.round(F.col("m.mcs"), 6).alias("medoid_cos")))


def label_outliers(emb: DataFrame, frac: float = 0.05,
                   label_col: str = "label", id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Per-label embedding outlier detection: flag the ``frac`` fraction
    of each label's members FARTHEST from the label centroid (lowest
    cosine) — the mislabeled-example / drift screen a labeled corpus
    runs before training.

    Centroids use :func:`label_centroids`' decimal-sum order-free means
    (rounded to 6 dp) so scoring is engine-identical. The cut is the
    count-threshold idiom from ``textops.quality_percentile_filter`` —
    the corpus is NEVER windowed: cumulative counts run over the tiny
    (label × distinct rounded-cosine) frame, the per-label threshold
    broadcasts back, and the flag is a row-local comparison. A member is
    an outlier iff its cosine ≤ max{c : #(cos ≤ c) ≤ ⌈frac·n_label⌉}
    (ties never straddle the cut; if the lowest cosine bin alone
    exceeds the budget, the label has no outliers — deterministic on
    both engines).

    Output: ``(id_col, label_col, cos_to_centroid, is_outlier)`` — all
    members, flagged.
    """
    from pyspark.sql import Window

    dims = emb.select(
        label_col,
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"))
    cm = (dims.groupBy(label_col, "pos")
          .agg(F.round(F.sum(F.col("x").cast("decimal(25,12)"))
                       .cast("double") / F.count(F.lit(1)), 6).alias("m")))
    cent = (cm.groupBy(label_col)
            .agg(F.sort_array(F.collect_list(F.struct("pos", "m")))
                 .alias("pm"))
            .select(label_col,
                    F.expr("transform(pm, s -> s.m)").alias("centroid")))
    scored = (
        emb.select(label_col, id_col, vec_col)
        .join(F.broadcast(cent), label_col)
        .select(label_col, id_col,
                F.round(cosine(F.col(vec_col), F.col("centroid")), 6)
                .alias("cos_to_centroid"))
    )
    per_val = (scored.groupBy(label_col, "cos_to_centroid")
               .agg(F.count(F.lit(1)).alias("__c")))
    wv = (Window.partitionBy(label_col).orderBy("cos_to_centroid")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = per_val.withColumn("__cumc", F.sum("__c").over(wv))
    nl = per_val.groupBy(label_col).agg(F.sum("__c").alias("__n"))
    thr = (cum.join(nl, label_col)
           .filter(F.col("__cumc") <= F.ceil(F.lit(frac) * F.col("__n")))
           .groupBy(label_col)
           .agg(F.max("cos_to_centroid").alias("__thr")))
    return (
        scored.join(F.broadcast(thr), label_col, "left")
        .select(id_col, label_col, "cos_to_centroid",
                (F.col("__thr").isNotNull()
                 & (F.col("cos_to_centroid") <= F.col("__thr")))
                .alias("is_outlier"))
    )


def random_projection(df: DataFrame, out_dim: int, dim: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      tag: str = "rp") -> DataFrame:
    """Johnson–Lindenstrauss-style random projection: map each ``dim``-wide
    embedding to ``out_dim`` coordinates ``p_j = <vec, w_j>`` against fixed
    md5-derived weight vectors (:func:`lsh_plane_weights` with its own
    ``tag``) — the cheap dimensionality-reduction front end for downstream
    ANN / clustering when the raw width is too expensive to shuffle.

    Entirely row-local — ZERO shuffles, same shape as :func:`lsh_assign`:
    each coordinate is one order-stable sequential fold against a literal
    weight array inside a single JVM-parsed SQL expression (bit-identical
    to DuckDB's ``list_dot_product`` fold, so the oracle needs no
    tolerance). Output: ``id_col`` + ``p0..p{out_dim-1}`` doubles, rounded
    to 9 dp for display on both engines.
    """
    weights = lsh_plane_weights(out_dim, dim, tag)
    cols = [id_col]
    for j, wrow in enumerate(weights):
        arr = "array(" + ", ".join(f"{x!r}D" for x in wrow) + ")"
        dot = (f"aggregate(zip_with(cast({vec_col} as array<double>), {arr},"
               " (x, y) -> x * y), 0.0D, (acc, t) -> acc + t)")
        cols.append(F.expr(f"round({dot}, 9)").alias(f"p{j}"))
    return df.select(*cols)
