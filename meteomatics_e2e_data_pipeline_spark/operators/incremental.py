"""Incremental-processing operators (reference ``stg_weather_raw.sql:3-25``).

The reference tracks processed files via the target table itself:
``METADATA$FILENAME NOT IN (SELECT file_path FROM {{ this }})`` — P4. Spark
plans the equivalent ``left_anti`` join as a BroadcastHashJoin when the
processed-file list is small (one row per *file*, not per record — project +
distinct first so only the key column ships). No forced ``broadcast()``
hint: years × thousands of files can exceed the broadcast limit, and
Catalyst/AQE already pick broadcast-anti when the build side is small.

Write-path semantics on plain parquet: ``append`` is NOT atomic — a retry
after a mid-write failure can leave duplicates. The reference has the same
exposure (dbt incremental on top of external files). For exactly-once record
semantics use ``fmt='txlog'`` (the in-repo transaction-log table,
``operators/txlog.py`` — atomic commit-or-nothing MERGE that runs in this
image) or ``fmt='delta'`` (delta-spark, env-gated); the call signature is
format-agnostic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def new_files_only(df: DataFrame, existing: DataFrame | None,
                   file_col: str = "file_path") -> DataFrame:
    """P4/J1: keep only rows whose ``file_col`` is absent from ``existing``.

    ``existing`` may be None (first run — reference ``is_incremental()``
    false branch elides the filter entirely).
    """
    if existing is None:
        return df
    seen = existing.select(file_col).distinct()
    return df.join(seen, on=file_col, how="left_anti")


def net_changes(changes: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Net one change-data-feed window: the multiset difference of its
    ``_change_type='insert'`` and ``'delete'`` rows over ``cols``, both
    ways, as one feed ``(*cols, _change_type)``.

    A copy-on-write feed carries every untouched row of a rewritten file
    as both a delete and an insert; netting cancels them, so downstream
    work follows the rows that really changed. It equals
    ``ins.exceptAll(dels)`` tagged insert plus ``dels.exceptAll(ins)``
    tagged delete, computed in ONE signed-count aggregate instead of
    two: group by ``cols``, sum +1 per insert and -1 per delete, drop
    zeros, and replicate each surviving row ``|n|`` times under its
    tag. That is the rewrite Spark applies to each ``exceptAll``
    (``RewriteExceptAll``), so grouping semantics — nulls group
    together, NaN and -0.0 are normalized — are the same. Rows with any
    other tag (update pre/post images) are ignored."""
    tag = F.col("_change_type")
    sign = F.when(tag == "insert", 1).otherwise(-1)
    counted = (changes.filter(tag.isin("insert", "delete"))
               .groupBy(*cols).agg(F.sum(sign).alias("_n"))
               .filter(F.col("_n") != 0))
    return counted.select(
        *cols,
        F.when(F.col("_n") > 0, F.lit("insert")).otherwise(F.lit("delete"))
        .alias("_change_type"),
        F.explode(F.sequence(F.lit(1), F.abs("_n").cast("int")))
        .alias("_copy")).drop("_copy")


def read_target(spark: SparkSession, target_path: str) -> DataFrame | None:
    """Read an existing parquet target, or None if it doesn't exist yet.

    Detection goes through Spark's own Hadoop FileSystem API, so it works
    against any supported scheme (``file://``, ``s3a://``, ``abfss://``,
    ...), not just the driver-local filesystem.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(target_path)
    fs = hpath.getFileSystem(conf)
    if not fs.exists(hpath):
        return None
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(target_path)
    except AnalysisException:
        # Directory exists but holds no readable parquet yet (e.g. only a
        # _SUCCESS marker from an aborted write) — treat as first run.
        # Deliberately narrow: a transient read failure (cloud-store 5xx,
        # permissions) must PROPAGATE, not silently skip the anti-join
        # and duplicate records.
        return None


def merge_delta(new: DataFrame, target_path: str, keys: Sequence[str],
                spark: SparkSession,
                partition_by: Sequence[str] | None = None) -> None:
    """S8, transactional tier: Delta ``MERGE`` with first-writer-wins
    semantics — the same outcome as the parquet anti-join+append
    (existing records are never rewritten, only genuinely new keys
    insert), but atomic under concurrent writers and mid-write failure,
    completing the exactly-once story the reference gets from Snowflake
    MERGE (``stg_weather_raw.sql:3-7``).

    Requires the ``delta-spark`` package + Delta-enabled session; kept an
    optional tier because this container ships neither — the dispatch and
    merge-call shape are unit-tested against a stub, the parquet fallback
    is the always-available path.
    """
    try:
        from delta.tables import DeltaTable
    except ImportError as exc:  # pragma: no cover - exercised via stub
        raise ImportError(
            "upsert fmt='delta' needs the delta-spark package and a "
            "Delta-enabled SparkSession; use fmt='parquet' (default) "
            "in environments without it") from exc
    batch = new.dropDuplicates(list(keys))
    if not DeltaTable.isDeltaTable(spark, target_path):
        # Only bootstrap a TRULY new target. A non-Delta path that already
        # holds data (e.g. months of parquet history from fmt='parquet')
        # must never be silently overwritten with one micro-batch — that
        # would destroy the history the upsert exists to protect.
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(target_path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(hpath) and fs.listStatus(hpath):
            raise ValueError(
                f"{target_path} exists with non-Delta contents; convert it "
                "explicitly (e.g. CONVERT TO DELTA) or use fmt='parquet'")
        writer = batch.write.format("delta").mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(target_path)
        return
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    (DeltaTable.forPath(spark, target_path).alias("t")
     .merge(batch.alias("s"), cond)
     .whenNotMatchedInsertAll()
     .execute())


def upsert_by_key(new: DataFrame, target_path: str, keys: Sequence[str],
                  spark: SparkSession,
                  prune_filter: Column | None = None,
                  partition_by: Sequence[str] | None = None,
                  fmt: str = "parquet") -> None:
    """S8: incremental upsert with a dedupe key. ``fmt='parquet'``
    (default) = anti-join existing keys, then append; ``fmt='txlog'``
    = the in-repo transaction-log table (atomic MERGE, executes
    everywhere); ``fmt='delta'`` dispatches to :func:`merge_delta` when
    the delta-spark package is available. All three tiers have the same
    first-writer-wins record semantics.

    Exactly-once at file grain comes from `new_files_only`; this guards the
    record grain. Scale notes: the existing side is pruned to the key
    columns (parquet column pruning) and — when ``prune_filter`` is given —
    to only the partitions the new batch could collide with (partition
    pruning), so the anti-join never rescans the whole history. ``new`` is
    one micro-batch, so the shuffle is bounded by batch size.
    """
    if fmt == "txlog":
        # Transactional tier that actually EXECUTES in this image: the
        # in-repo transaction-log table (operators/txlog.py) gives the
        # same first-writer-wins MERGE atomically — commit-or-nothing
        # under mid-write failure, optimistic concurrency across writers,
        # and stat-pruned collision probes instead of prune_filter.
        from meteomatics_e2e_data_pipeline_spark.operators.txlog import \
            TxTable
        if prune_filter is not None:
            raise ValueError(
                "prune_filter is not supported with fmt='txlog'; per-file "
                "key stats in the transaction log prune the collision "
                "probe automatically")
        if partition_by:
            raise ValueError(
                "fmt='txlog' lays out files by key-stat ranges, not "
                "directory partitions; omit partition_by")
        try:
            table = TxTable(spark, target_path)
        except ValueError:
            TxTable.create(spark, new.dropDuplicates(list(keys)),
                           target_path, stat_cols=list(keys))
            return
        table.merge_upsert(new, keys, update=False)
        return
    if fmt == "delta":
        if prune_filter is not None:
            # Silently ignoring the caller's pruning predicate would void
            # the "never rescans the whole history" guarantee; Delta MERGE
            # needs it expressed as a merge-condition conjunct (SQL text
            # over the target alias), which this wrapper doesn't translate.
            raise ValueError(
                "prune_filter is not supported with fmt='delta'; add the "
                "partition predicate to the MERGE condition instead")
        merge_delta(new, target_path, keys, spark, partition_by)
        return
    if fmt != "parquet":
        raise ValueError(f"upsert_by_key supports fmt='parquet'|'txlog'|"
                         f"'delta', got {fmt!r}")
    existing = read_target(spark, target_path)
    if existing is not None:
        existing_keys = existing.select(*keys)
        if prune_filter is not None:
            existing_keys = existing_keys.filter(prune_filter)
        new = new.join(existing_keys.distinct(), on=list(keys), how="left_anti")
    writer = new.dropDuplicates(list(keys)).write.mode("append")
    if partition_by:
        # S10 clustered layout: directory partitioning so date-keyed
        # consumers (the as_of-window fact builds) prune at the scan.
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target_path)


def full_refresh(df: DataFrame, target_path: str,
                 partition_by: Sequence[str] | None = None,
                 fmt: str = "parquet") -> None:
    """S9: full-refresh sink (dbt ``materialized='table'`` dims —
    reference ``dim_location.sql:1`` etc.). ``fmt`` may be any columnar
    format the session supports (parquet default, orc tested)."""
    writer = df.write.mode("overwrite").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(target_path)


def append_only(df: DataFrame, target_path: str,
                partition_by: Sequence[str] | None = None,
                fmt: str = "parquet") -> None:
    """S7: incremental append sink (dbt incremental facts with no
    unique_key — reference ``fact_weather_params_history.sql:1``)."""
    writer = df.write.mode("append").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(target_path)
