"""Persisted, CDC-maintained ANN index — the similarity twin of the
near-dup index (:mod:`.neardup`); one loop,
``sources.txlog_stream.maintain_from_cdc``, maintains both.

The index lives in ONE frame-discriminated txlog table so every
maintenance fold is a single atomic commit (frames can never be
observed mutually inconsistent under any crash):

- ``centroids``: the IVF coarse quantizer (centroid_id, embedding).
  TRAINED OFFLINE (:func:`..operators.similarity.train_ivf_centroids`)
  and held fixed across folds — re-training is a rebuild, not a fold,
  exactly like production IVF deployments.
- ``assign``: (vec_id, embedding, bucket) — the storage-side
  assignment :func:`~.similarity.ivf_assign` produces; the serving
  frame for :func:`~.similarity.knn_ivf_preassigned`.
- ``codes``: (vec_id, scale, q) — the int8 compressed tier
  (:func:`~.similarity.quantize_int8`), the 4×-smaller representation
  a 100 TB corpus actually stores.

Maintenance is embarrassingly increment-local (unlike near-dup, no
neighborhood effects): a CDC window nets to upsert/delete id sets; new
vectors assign against the broadcast centroids and quantize row-locally;
:meth:`~.txlog.TxTable.apply_delta` drops the touched (frame, vec_id)
rows and appends the new ones in one txn-guarded commit. Per-fold work
and write are both ∝ the increment.

Layout: bootstrap range-clusters files by (frame, bucket, vec_id) and
the table carries (frame, vec_id, bucket) stats — so maintenance
deletes rewrite only files holding touched ids, and a SERVING scan that
probes nprobe buckets prunes to the files whose bucket range matches
(the IVF partition-by-bucket storage discipline, expressed as stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import materialize
from .incremental import net_changes
from .similarity import ivf_assign, knn_ivf_preassigned, quantize_int8
from .txlog import TxTable

_APP = "ann-maintenance"

_ANN_STATE_SCHEMA = ("frame string, vec_id long, "
                     "embedding array<float>, bucket long, "
                     "scale double, q array<int>")


def pack_ann_state(centroids: DataFrame, assign: DataFrame,
                   codes: DataFrame) -> DataFrame:
    """(centroids, assign, codes) → one frame-discriminated DataFrame
    with the declared ``_ANN_STATE_SCHEMA`` layout."""
    types = {
        "vec_id": "long",
        "embedding": "array<float>",
        "bucket": "long",
        "scale": "double",
        "q": "array<int>",
    }

    def frame(tag, df, **cols):
        sel = [F.lit(tag).alias("frame")]
        sel += [(F.col(cols[c]) if c in cols else F.lit(None))
                .cast(types[c]).alias(c)
                for c in types]
        return df.select(*sel)

    return (
        frame("centroids", centroids,
              vec_id="centroid_id", embedding="embedding")
        .unionByName(frame("assign", assign, vec_id="vec_id",
                           embedding="embedding", bucket="bucket"))
        .unionByName(frame("codes", codes, vec_id="vec_id",
                           scale="scale", q="q"))
    )


def ann_frames(st: TxTable) -> dict:
    """Unpack the index table into its three frames."""
    packed = st.read()

    def frame(tag, *cols):
        return packed.filter(F.col("frame") == tag).select(*cols)

    return {
        "centroids": frame("centroids",
                           F.col("vec_id").alias("centroid_id"),
                           "embedding"),
        "assign": frame("assign", "vec_id", "embedding", "bucket"),
        "codes": frame("codes", "vec_id", "scale", "q"),
    }


def init_ann_state(spark: SparkSession, emb: DataFrame,
                   centroids: DataFrame, state_path: str,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> TxTable:
    """Bootstrap the index table from a corpus snapshot: assign + code
    every vector, pack, range-cluster, create."""
    assign = ivf_assign(emb, centroids, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"),
        "bucket")
    codes = quantize_int8(emb, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"), "scale", "q")
    packed = pack_ann_state(centroids, assign, codes)
    packed = packed.repartitionByRange(
        "frame", F.coalesce(F.col("bucket"), F.col("vec_id")), "vec_id")
    return TxTable.create(spark, packed, state_path,
                          stat_cols=["frame", "vec_id", "bucket"])


def fold_cdc_ann(changes: DataFrame, st: TxTable,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
    """One CDC window → ``(delete_clauses, inserts)`` for
    :meth:`TxTable.apply_delta`. Net inserts are upserts (an id in the
    insert set sheds its old rows first — idempotent replays, same
    discipline as :func:`~.neardup.fold_cdc_near_dup`)."""
    net = materialize(net_changes(changes, [id_col, vec_col]), "eager")
    is_ins = F.col("_change_type") == "insert"
    net_ins = net.filter(is_ins).select(id_col, vec_col)
    net_del = net.filter(~is_ins).select(id_col, vec_col)
    del_ids = materialize(net_del.select(id_col)
                          .unionByName(net_ins.select(id_col)).distinct(),
                          "eager")

    def keyed(tag):
        return del_ids.select(F.lit(tag).alias("frame"),
                              F.col(id_col).alias("vec_id"))

    delete_clauses = [
        (["frame", "vec_id"], keyed("assign")),
        (["frame", "vec_id"], keyed("codes")),
    ]
    centroids = ann_frames(st)["centroids"]
    assign = ivf_assign(net_ins, centroids, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"),
        "bucket")
    codes = quantize_int8(net_ins, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"), "scale", "q")
    inserts = pack_ann_state(centroids.limit(0), assign,
                             codes).coalesce(1)
    return delete_clauses, inserts


def stream_cdc_ann_maintenance(spark: SparkSession, table_path: str,
                               checkpoint_path: str, state_path: str,
                               centroids: DataFrame | None = None,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> TxTable:
    """The maintenance loop: one ``availableNow`` pass over the
    embeddings table's ``txlog_cdc`` feed, each micro-batch folded into
    the index table by :func:`fold_cdc_ann` with ONE atomic keyed-delta
    commit — run by :func:`..sources.txlog_stream.maintain_from_cdc`,
    the loop the near-dup index uses too, so replays publish nothing. A
    missing index table bootstraps from the embeddings table's version-0
    snapshot with the supplied ``centroids`` (required on first use;
    ignored afterwards — the quantizer is versioned WITH the index).
    Returns the state table."""
    from ..sources.txlog_stream import maintain_from_cdc

    def bootstrap(emb: DataFrame) -> TxTable:
        if centroids is None:
            raise ValueError("first maintenance call must supply the "
                             "offline-trained centroids")
        return init_ann_state(spark, emb, centroids, state_path, id_col,
                              vec_col)

    return maintain_from_cdc(
        spark, table_path, checkpoint_path, state_path, _APP, bootstrap,
        lambda batch, st: fold_cdc_ann(batch, st, id_col, vec_col))


def knn_ivf_from_index(st: TxTable, queries: DataFrame, k: int,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       nprobe: int = 1) -> DataFrame:
    """Serve IVF top-k from the PERSISTED index: the stored assignment
    frame feeds :func:`~.similarity.knn_ivf_preassigned` — bit-identical
    to the in-memory :func:`~.similarity.knn_ivf` over the same corpus
    and centroids (pytest-pinned). The scan prunes to the probed
    buckets' files via the (frame, bucket) stats layout."""
    fr = ann_frames(st)
    assigned = fr["assign"].select(
        F.col("vec_id").alias(id_col),
        F.col("embedding").alias(vec_col), "bucket")
    return knn_ivf_preassigned(assigned, queries, fr["centroids"], k,
                               id_col, vec_col, nprobe)
