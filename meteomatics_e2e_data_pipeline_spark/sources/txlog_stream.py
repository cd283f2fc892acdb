"""Streaming OUT of a transaction-log table: ``txlog_cdc`` source.

The inverse of :func:`.ingest.stream_ingest_to_txlog` (which streams INTO a
:class:`~..operators.txlog.TxTable`): a Spark 4 Python DataSource whose
stream offset is the TABLE VERSION, so each micro-batch is exactly the
change feed of the commits in ``(committed, latest]`` —
:meth:`TxTable.read_changes` semantics as a live feed (insert/delete-tagged
rows, transient files cancelled). This is the public Delta CDF-as-stream
pattern reduced to the local log: downstream consumers (sync jobs,
incremental materializations) follow the table without rescanning it.

Offsets are ABSOLUTE versions — deterministic, monotone, and restart-safe
by construction (unlike the weather stream's day counts, no option can
remap what a committed offset means), so a checkpointed query resumes at
the exact commit boundary it left off. ``startingVersion`` (Delta's option
name) picks where a FRESH query begins: its changes start at
``startingVersion + 1`` — i.e. the snapshot AT ``startingVersion`` is the
consumer's assumed base; default 0 (follow everything after the create
commit; the create's rows themselves are the version-0 snapshot a consumer
bootstraps from via ``TxTable.read(version=0)``).

The source runs WITHOUT a SparkSession. The log is replayed by the
one core in ``operators/txproto.py`` over its plain-``os`` log IO: the
schema and the window-start snapshot come from ``replay``, and each
micro-batch's files come from ``walk_changes`` — the same walk
:meth:`TxTable.read_changes` nets, so the two feeds cannot disagree.
Each partition is ONE data file read with pyarrow on an executor; the
planner never touches row data. Vacuumed files limit how far back a
fresh stream can start, exactly like Delta's CDF-vs-vacuum contract
(:meth:`TxTable.read_changes` documents it).

:func:`maintain_from_cdc` is the one consumer loop for table-resident
indexes (near-dup, ANN): it folds each micro-batch into a state table
with one txn-guarded commit, so a replayed batch publishes nothing.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..operators.txproto import (LocalLogIO, latest_version,
                                 parse_partition_values, replay,
                                 walk_changes)


def _key_rows(table, key_cols, partition_values, n):
    """Per-row key tuples of an Arrow table, with hive partition columns
    (absent from file data) supplied as constants. Used only on
    TOMBSTONED files — the clean-file path stays fully vectorized."""
    cols = []
    pv = partition_values or {}
    names = set(table.column_names)
    for c in key_cols:
        if c in names:
            cols.append(table.column(c).to_pylist())
        else:
            cols.append([pv.get(c)] * n)
    return list(zip(*cols)) if cols else [()] * n


def _dv_mask(table, dv: dict, partition_values, keep_matching: bool):
    """Boolean Arrow mask selecting rows whose key tuple IS (semi) or IS
    NOT (anti) in the deletion vector. Single physical key columns take
    the vectorized ``is_in`` path; composite / partition-backed keys
    fall back to per-row tuples — bounded by the tombstoned file's rows,
    and only ever on tombstoned files."""
    import pyarrow as pa
    import pyarrow.compute as pc
    key_cols = list(dv["keyCols"])
    if len(key_cols) == 1 and key_cols[0] in set(table.column_names):
        col = table.column(key_cols[0])
        vs = pa.array([k[0] for k in dv["keys"]]).cast(col.type)
        m = pc.fill_null(pc.is_in(col, value_set=vs), False)
        return m if keep_matching else pc.invert(m)
    keyset = {tuple(k) for k in dv["keys"]}
    rows = _key_rows(table, key_cols, partition_values, table.num_rows)
    return pa.array([(t in keyset) == keep_matching for t in rows])


def _project(table, fields, target, colmap: dict, pv: dict | None) -> dict:
    """Project one data file onto the table's LOGICAL columns ``fields``
    (``target``: their arrow schema) — the scan workers' shared step.
    Files speak PHYSICAL names on column-mapped tables; hive partition
    columns (absent from file data) fill as typed constants from the
    path's ``pv``; columns added after the file was written (schema
    evolution) null-fill with the TYPED arrow field."""
    import pyarrow as pa
    n = table.num_rows
    present = set(table.column_names)
    pv = pv or {}
    cols = {}
    for i, name in enumerate(fields):
        typ = target.field(i).type
        pname = colmap.get(name, name)
        if pname in present:
            cols[name] = table.column(pname).cast(typ).combine_chunks()
        elif pv.get(name) is not None:
            cols[name] = pa.array([pv[name]] * n).cast(typ)
        else:
            cols[name] = pa.nulls(n, type=typ)
    return cols


def _table_schema(table: str) -> StructType:
    return StructType.fromJson(replay(LocalLogIO(table)).meta["schema"])


@dataclass
class CdcFilePartition(InputPartition):
    file_path: str
    change_type: str  # 'insert' | 'delete'
    #: {col: typed value} for hive-partitioned tables (partition columns
    #: are not in the file data; parsed from the file's relative path,
    #: which add AND remove actions both carry)
    partition_values: dict | None = None
    #: deletion-vector scoping of THIS partition's rows:
    #:   None            — the whole file,
    #:   ("anti", dv)    — the file minus tombstoned keys (a removal of
    #:                     a tombstoned file emits only visible rows),
    #:   ("semi", dv)    — only tombstoned keys (a dv action emits
    #:                     exactly its newly deleted rows).
    dv_filter: tuple | None = None


class TxLogCdcStreamReader(DataSourceStreamReader):
    """Offset = {"version": N} — the last commit whose changes have been
    released. ``latestOffset`` re-lists the log each call, so commits
    published by any writer appear in the next micro-batch.

    ``maxVersionsPerTrigger`` (the Delta ``maxFilesPerTrigger`` analog at
    this source's natural grain) bounds each micro-batch to at most that
    many commits, so catching up a long history runs as bounded chunks
    instead of one giant batch — per-batch work stays ∝ the cap however
    far behind the consumer is. The limiter needs the committed offset
    as its floor; the Python DataSource API reveals it through the
    ``partitions(start, end)`` / ``commit(end)`` calls, from which the
    floor ratchets monotonically upward, seeded with ``startingVersion``
    (exactly the committed offset of a FRESH query). Restart safety is
    pinned by test against the engine's actual call order: Spark 4.1
    ALWAYS re-plans the checkpoint-restored offset range (a
    ``partitions`` call) before first asking ``latestOffset`` — even
    when the last batch fully committed — so the floor is learned from
    the true committed offset before the limiter ever answers, and
    ``min(latest, floor + cap) ≥ floor`` means a released offset can
    never regress."""

    def __init__(self, schema: StructType, options):
        path = options.get("path")
        if not path:
            raise ValueError("txlog_cdc requires option 'path'")
        self.table = path.rstrip("/")
        self.start = int(options.get("startingVersion", "0"))
        self.max_versions = int(options.get("maxVersionsPerTrigger", "0"))
        if self.max_versions < 0:
            raise ValueError("maxVersionsPerTrigger must be >= 1 (or 0 "
                             "for unbounded)")
        self._floor: int | None = None  # newest version known released
        self._answered: int | None = None  # last capped latestOffset
        self._io = LocalLogIO(self.table)
        latest, meta, _, _, _ = replay(self._io)
        if not 0 <= self.start <= latest:
            raise ValueError(
                f"startingVersion {self.start} out of range 0..{latest}")
        schema = StructType.fromJson(meta["schema"])
        self.fields = [f.name for f in schema.fields]
        self.partition_cols = meta.get("partition_cols") or []
        self.partition_types = {f.name: f.dataType.typeName()
                                for f in schema.fields}

    def _ratchet(self, version: int) -> None:
        if self._floor is None or version > self._floor:
            self._floor = version

    def initialOffset(self) -> dict:
        self._ratchet(self.start)
        return {"version": self.start}

    def latestOffset(self) -> dict:
        latest = latest_version(self._io)
        if self.max_versions:
            floor = self.start if self._floor is None else self._floor
            ans = min(latest, floor + self.max_versions)
            if self._answered is not None:  # never regress within-process
                ans = max(ans, self._answered)
            self._answered = ans
            return {"version": ans}
        return {"version": latest}

    def partitions(self, start: dict, end: dict
                   ) -> Sequence[CdcFilePartition]:
        # Defense for the limiter's restart contract (the floor is
        # learned from the engine's observed call order — Spark 4.1
        # always re-plans the restored range before asking
        # latestOffset): if a partitions call ever reveals a committed
        # offset ABOVE a previously answered capped latestOffset, the
        # engine changed that order and our capped answer regressed
        # below its checkpoint — fail LOUDLY instead of replaying or
        # skipping a committed window.
        if (self.max_versions and self._answered is not None
                and start["version"] > self._answered):
            raise RuntimeError(
                f"txlog_cdc maxVersionsPerTrigger: engine revealed "
                f"committed offset {start['version']} above the capped "
                f"latestOffset answer {self._answered} — the engine's "
                f"restart call order changed; restart the query without "
                f"maxVersionsPerTrigger to catch up safely")
        self._ratchet(start["version"])
        self._ratchet(end["version"])
        # TxTable.read_changes' event semantics via the shared walk: a
        # dv action emits exactly its newly tombstoned rows; a
        # data-changing remove of a tombstoned file emits only its
        # VISIBLE rows; layout-only swaps stay silent.
        adds: list[str] = []
        removes: list[str] = []
        partial: list[tuple[str, dict]] = []   # removed w/ tombstones
        dv_dels: list[tuple[str, dict]] = []   # newly tombstoned keys
        for ch in walk_changes(self._io, start["version"],
                               end["version"]):
            if ch.kind == "add":
                adds.append(ch.path)
            elif ch.kind == "remove":
                removes.append(ch.path)
            else:
                (partial if ch.kind == "partial" else dv_dels).append(
                    (ch.path, ch.dv))
        # Multiset netting: RESTORE re-adds a removed path, so add/remove
        # counts inside one window can be unbalanced — net by Counter
        # difference, never by set intersection, or a remove + later
        # re-add cancels to nothing. (Partial removals never
        # participate: their rows are not the full file.)
        add_c, rem_c = Counter(adds), Counter(removes)

        def part(p: str, tag: str, dvf=None) -> CdcFilePartition:
            pv = None
            if self.partition_cols:
                # parse from the TRAILING key=value components so
                # shallow-cloned absolute paths parse identically to
                # table-relative ones
                depth = len(self.partition_cols) + 1
                tail = "/".join(p.split("/")[-depth:])
                pv = parse_partition_values(tail, self.partition_cols,
                                            self.partition_types)
            return CdcFilePartition(os.path.join(self.table, p), tag,
                                    pv, dvf)

        return ([part(p, "insert")
                 for p in sorted((add_c - rem_c).elements())]
                + [part(p, "delete")
                   for p in sorted((rem_c - add_c).elements())]
                + [part(p, "delete", ("anti", dv)) for p, dv in partial]
                + [part(p, "delete", ("semi", dv)) for p, dv in dv_dels])

    def read(self, partition: CdcFilePartition) -> Iterator:
        """Yield Arrow RecordBatches (vectorized engine ingest; same
        rationale + measurement as the batch source). Files written
        before a merge_schema widening lack the new columns — they
        null-fill with the TYPED arrow field; the change tag rides as
        one constant string column."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        meta = replay(self._io).meta
        target = to_arrow_schema(StructType.fromJson(meta["schema"]))
        table = pq.read_table(partition.file_path)
        if partition.dv_filter is not None:
            mode, dv = partition.dv_filter
            table = table.filter(_dv_mask(table, dv,
                                          partition.partition_values,
                                          keep_matching=(mode == "semi")))
        # column-mapped tables: the feed is emitted under the CURRENT
        # logical names (same to-version contract as
        # TxTable.read_changes)
        cols = _project(table, self.fields, target,
                        meta.get("column_mapping") or {},
                        partition.partition_values)
        cols["_change_type"] = pa.array([partition.change_type]
                                        * table.num_rows, type=pa.string())
        yield from pa.table(cols).to_batches()

    def commit(self, end: dict) -> None:  # engine owns progression
        self._ratchet(end["version"])


class TxLogCdcDataSource(DataSource):
    """``format("txlog_cdc")`` — follow a TxTable's change feed."""

    @classmethod
    def name(cls) -> str:
        return "txlog_cdc"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("txlog_cdc requires option 'path'")
        return _table_schema(path.rstrip("/")).add("_change_type", "string")

    def streamReader(self, schema: StructType) -> TxLogCdcStreamReader:
        return TxLogCdcStreamReader(schema, self.options)


def register(spark) -> None:
    """Register the source on the live session (idempotent)."""
    spark.dataSource.register(TxLogCdcDataSource)


def maintain_from_cdc(spark, table_path: str, checkpoint_path: str,
                      state_path: str, app: str, bootstrap, fold):
    """Keep a table-resident index in step with a txlog table: one
    ``availableNow`` pass over the table's ``txlog_cdc`` feed, each
    micro-batch folded into the state table with ONE atomic
    :meth:`~..operators.txlog.TxTable.apply_delta` commit. Returns the
    state :class:`~..operators.txlog.TxTable`.

    - ``bootstrap(snapshot) -> TxTable`` builds a missing state table at
      ``state_path`` from the source table's version-0 snapshot (the
      feed's implied base: it delivers exactly the commits after it).
    - ``fold(batch_df, st) -> (delete_clauses, inserts)`` turns one
      change window into a keyed delta against the current state.

    Exactly-once across the two-commit gap (state commit published,
    stream checkpoint commit lost): every commit carries
    ``txn=(f"{app}:{basename(state_path)}", batch_id)``, a replayed
    batch at or below the table's ``last_txn`` is skipped before any
    compute, and so it publishes nothing — the Delta ``txn``-action
    discipline of the streaming sink. A fold reads the state table's
    CURRENT snapshot, so the next batch always folds from the state its
    predecessors committed. Layout-only commits (OPTIMIZE) feed empty
    batches and commit nothing.
    """
    from ..operators.txlog import TxTable

    register(spark)
    app_id = f"{app}:{os.path.basename(state_path)}"
    if os.path.isdir(os.path.join(state_path, "_txlog")):
        st = TxTable(spark, state_path)
    else:
        st = bootstrap(TxTable(spark, table_path).read(version=0))

    def _fold(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        last = st.last_txn(app_id)
        if last is not None and last >= batch_id:
            return
        clauses, inserts = fold(batch_df, st)
        st.apply_delta(clauses, inserts, txn=(app_id, batch_id))

    q = (spark.readStream.format("txlog_cdc")
         .option("path", table_path).load()
         .writeStream.foreachBatch(_fold)
         .option("checkpointLocation", checkpoint_path)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return st
