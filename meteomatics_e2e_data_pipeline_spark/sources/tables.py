"""Parquet table loader for the driver's TPC-H-ish star schema.

Plain ``spark.read.parquet`` — columnar scan with predicate pushdown and
column pruning for free. At 100 TB the same call works against a
directory-partitioned lake; nothing here assumes local files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import artifacts

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Tables with FIXED cardinality (do not grow with scale factor) — the only
# ones that are unconditionally safe to force-broadcast at any data scale.
# customer/part/supplier grow with SF (multi-GB at 100 TB): join them
# normally and let AQE convert to broadcast when the pruned side is small.
SMALL_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan handle of one table. The lazy plan (no rows) is kept in the
    artifact registry while the table's files are unchanged: building a
    handle costs ~100-150 ms of driver work (file listing + footer read
    over py4j), and a typical star query opens 3-5 tables."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    return artifacts.memo(spark, ("table", sf_dir, name), [path],
                          lambda: _scan(spark, path, name))


def _scan(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
        # generations and TIMESTAMP(MICROS) in others. Engine-wide policy
        # (also set in the session factory): nanosAsLong=true so NANOS data
        # loads as BIGINT epoch-nanos, then truncate to micros with integer
        # arithmetic (a double round-trip would lose precision — epoch-nanos
        # exceed 2^53; DuckDB truncates NS→US the same way). MICROS data is
        # unaffected by the flag and arrives as a timestamp already — pass
        # it through. Branching on the *loaded* dtype makes both
        # generations work and survives the next regeneration.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # normalize to TIMESTAMP (session-TZ) so downstream date/window
            # arithmetic and the DuckDB oracle agree on one timestamp kind
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view (for the SQL API).

    Registration is kept in the artifact registry under one key per
    session, fingerprinted on every table's files: each
    ``createOrReplaceTempView`` is a catalog round-trip over py4j, and
    the SQL-surface queries call this on every invocation. Another
    ``sf_dir`` or a rewritten table re-registers (views are replaced)."""
    out = {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}

    def register():
        for name, df in out.items():
            df.createOrReplaceTempView(name)

    artifacts.memo(spark, ("temp_views",),
                   [table_path(sf_dir, name) for name in TABLE_NAMES],
                   register)
    return out
