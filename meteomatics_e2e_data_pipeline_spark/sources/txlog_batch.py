"""Batch reads AND writes of a transaction-log table as a first-class
source: ``spark.read.format("txlog").option("path", ...)`` /
``df.write.format("txlog").option("path", ...).mode(...)``. The write
side maps Spark's V2 commit protocol 1:1 onto the log protocol — see
:class:`TxLogBatchWriter`.

:meth:`~..operators.txlog.TxTable.read` already gives snapshot reads,
but it hands Spark an explicit file list — data skipping happens only
inside MERGE's planner. This Spark 4 Python DataSource moves the
log's per-file min/max stats INTO scan planning via ``pushFilters``:
a predicate on any stat column prunes files before a single task
launches, composing with whatever the query does downstream. Options:

* ``path`` (required) — table root.
* ``versionAsOf`` — time travel to that snapshot (default: latest).
* ``timestampAsOf`` — unix timestamp; resolves to the latest version
  whose commit file mtime is at-or-before it (Delta's rule; the commit
  mtime IS the commit timestamp). ``versionAsOf`` wins if both given.

Filter pushdown is PRUNING-ONLY and therefore always sound: every
pushed filter is yielded back to Spark (rows are re-filtered
post-scan), the reader merely refuses to schedule files whose
[min, max] range provably cannot contain a matching row — the same
one-sided contract as parquet row-group skipping. Equality, IN, and
all four range comparators participate; anything else (or a column
without stats) degrades to "read the file".

Everything planner-side replays the KB-sized JSON log through the one
core in ``operators/txproto.py`` (``replay``, ``version_at``) over its
plain-``os`` log IO, and both writers publish through its one commit
loop (``txproto.commit``) — the same fold, time-travel rule, conflict
rules, ``txn`` ledger, in-commit timestamps and checkpoint cadence as
:class:`TxTable`, so the two tiers cannot disagree on a snapshot or a
commit. Each partition is ONE live data
file read with pyarrow on an executor, null-filling columns added after
the file was written (schema evolution). No SparkSession is touched
anywhere in the source, so it works identically under driver-owned and
factory sessions.

Follows the PUBLIC Delta/Iceberg stat-pruning design; reference has
no counterpart (its warehouse prunes micro-partitions server-side).
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..operators import txproto
from ..operators.genexpr import parse_generation_expr
from ..operators.txproto import (SUPPORTED_WRITER, LocalLogIO, TxConflict,
                                 canon_temporal, check_protocol,
                                 info_action as _info_action, replay,
                                 stat_scalar, version_at)
from .txlog_stream import _dv_mask, _project


def _resolve_version(options, table: str) -> int | None:
    """versionAsOf wins over timestampAsOf; neither → latest (None)."""
    version = options.get("versionAsOf")
    if version is not None:
        return int(version)
    ts = options.get("timestampAsOf")
    if ts is not None:
        return version_at(LocalLogIO(table), float(ts))
    return None


def _norm_literal(v):
    """A pushed-filter literal into the log's stat value domain:
    dates/timestamps arrive as ``datetime`` objects while stats store
    isoformat strings — without this, every temporal compare raised
    TypeError and date-column stat pruning silently never fired. The
    canonicalizer additionally unifies the 'T'/space timestamp
    spellings (stats vs hive partitionValues — txproto.canon_temporal).
    Unknown types pass through raw (compare may TypeError → keep)."""
    n = stat_scalar(v)
    return canon_temporal(n) if n is not None else v


def _range_can_match(lo, hi, f: Filter) -> bool:
    """Can a file whose column spans [lo, hi] hold a row matching f?
    Any uncertainty (absent stats, unknown filter) answers True — the
    pruning is one-sided by contract."""
    if lo is None or hi is None:
        return True
    lo, hi = canon_temporal(lo), canon_temporal(hi)
    try:
        if isinstance(f, EqualTo):
            return lo <= _norm_literal(f.value) <= hi
        if isinstance(f, In):
            return any(lo <= _norm_literal(val) <= hi for val in f.value)
        if isinstance(f, GreaterThan):
            return hi > _norm_literal(f.value)
        if isinstance(f, GreaterThanOrEqual):
            return hi >= _norm_literal(f.value)
        if isinstance(f, LessThan):
            return lo < _norm_literal(f.value)
        if isinstance(f, LessThanOrEqual):
            return lo <= _norm_literal(f.value)
    except TypeError:
        return True  # incomparable literal (e.g. cross-type): keep
    return True


def _derived_generated_filters(generated: dict, partition_cols,
                               filters: "list[Filter]") -> "list[Filter]":
    """Pruning filters on GENERATED partition columns implied by pushed
    filters on their BASE columns (the public Delta "partition pruning
    using generated columns" design; ``operators/genexpr.py`` holds the
    monotone shape registry). Derived filters participate in file
    pruning ONLY — they are never yielded back to Spark, and strict
    comparators weaken to inclusive on the generated side (one-sided:
    never skips a possible match). Non-monotone calendar fields
    (month/day/hour) derive from equality/IN predicates only."""
    if not generated:
        return []
    pset = set(partition_cols or ())
    out: list = []
    for g, expr in generated.items():
        if g not in pset:
            continue
        t = parse_generation_expr(expr)
        if t is None:
            continue
        for f in filters:
            if getattr(f, "attribute", None) != (t.base_col,):
                continue
            if isinstance(f, EqualTo):
                v = t.fn(f.value)
                if v is not None:
                    out.append(EqualTo((g,), v))
            elif isinstance(f, In):
                vs = [t.fn(val) for val in f.value]
                if vs and all(v is not None for v in vs):
                    out.append(In((g,), tuple(vs)))
            elif not t.monotone:
                continue
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                v = t.fn(f.value)
                if v is not None:
                    out.append(GreaterThanOrEqual((g,), v))
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                v = t.fn(f.value)
                if v is not None:
                    out.append(LessThanOrEqual((g,), v))
    return out


@dataclass
class TxFilePartition(InputPartition):
    file_path: str
    #: {col: typed value} for hive-partitioned tables — the partition
    #: columns are NOT in the file data; the executor-side read fills
    #: them as constant arrays (the same job Spark's basePath discovery
    #: does for its native scans).
    partition_values: dict | None = None
    #: accumulated deletion vector of this file (tombstoned keys are
    #: filtered out merge-on-read in the scan worker)
    dv: dict | None = None


class TxLogBatchReader(DataSourceReader):
    """One partition per live file surviving stat pruning."""

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("txlog requires option 'path'")
        self.table = path.rstrip("/")
        v = _resolve_version(options, self.table)
        _, meta, live, _, _ = replay(LocalLogIO(self.table), v)
        self.schema_struct = StructType.fromJson(meta["schema"])
        self.fields = [f.name for f in self.schema_struct.fields]
        self.partition_cols = meta.get("partition_cols") or []
        # column-mapped tables: files + log stats speak PHYSICAL names;
        # pushed filters and the declared schema speak logical — the
        # planner translates at lookup, the workers at column access
        self.colmap = meta.get("column_mapping") or {}
        self.generated = meta.get("generated") or {}
        self.live = live
        self._prune = str(options.get("statPruning", "true")
                          ).lower() != "false"

    def pushFilters(self, filters: "list[Filter]") -> "Iterator[Filter]":
        """Record every filter for file pruning, and hand every filter
        straight back to Spark: the scan only ever SKIPS files whose
        stat range cannot match, never claims to have applied a
        predicate row-level."""
        self._filters = [f for f in filters
                         if len(f.attribute) == 1]  # no nested paths
        yield from filters

    def partitions(self) -> Sequence[TxFilePartition]:
        # pushFilters and partitions run in ONE pushdown-worker
        # invocation (pyspark/sql/worker/data_source_pushdown_filters.py
        # plans both in the same process); popping scopes the filters to
        # exactly that invocation. NOTE the engine-level caveat this
        # CANNOT fix, pinned in
        # tests/test_txlog_batch_source.py::test_scan_reuse_caveat:
        # Spark 4.1 caches the planned (read_func, partitions) on the
        # relation and re-plans ONLY for scans that have filters, so an
        # UNFILTERED re-scan of the same DataFrame object reuses the
        # previous filtered scan's partition list without ever calling
        # back into Python — load() a fresh DataFrame per query (the
        # normal pattern), or pass option("statPruning", "false").
        if not self._prune:
            self.__dict__.pop("_filters", None)
            return [TxFilePartition(os.path.join(self.table, p),
                                    self.live[p].get("partitionValues"),
                                    self.live[p].get("dv"))
                    for p in sorted(self.live)]
        filters = self.__dict__.pop("_filters", [])
        # generated partition columns: predicates on the BASE column
        # imply predicates on the partition value — derive them before
        # the per-file pass so partition pruning fires on e.g.
        # filter(ts BETWEEN ...) over a table partitioned by year(ts)
        filters = filters + _derived_generated_filters(
            self.generated, self.partition_cols, filters)
        keep = []
        for path in sorted(self.live):
            add = self.live[path]
            stats = add.get("stats") or {}
            pv = add.get("partitionValues") or {}
            nulls = add.get("nullCounts") or {}
            n = add.get("numRecords")
            ok = True
            for f in filters:
                col = self.colmap.get(f.attribute[0], f.attribute[0])
                if col in pv:
                    # partition pruning: the recorded value is an EXACT
                    # single-value stat (lo = hi = value)
                    val = pv[col]
                    if val is None:
                        if not isinstance(f, IsNull):
                            ok = False
                            break
                    elif isinstance(f, IsNull) or not _range_can_match(
                            val, val, f):
                        ok = False
                        break
                    continue
                # null-count pruning (Delta's nullCount stats): an
                # IsNull filter can't match a file with zero nulls; an
                # IsNotNull filter can't match an all-null file. Range
                # filters are null-rejecting by SQL semantics, so an
                # all-null file can't match those either.
                if col in nulls and n is not None:
                    if isinstance(f, IsNull) and nulls[col] == 0:
                        ok = False
                        break
                    if nulls[col] == n and isinstance(
                            f, (IsNotNull, EqualTo, In, GreaterThan,
                                GreaterThanOrEqual, LessThan,
                                LessThanOrEqual)):
                        ok = False
                        break
                if col not in stats:
                    continue
                lo, hi = stats[col]
                if not _range_can_match(lo, hi, f):
                    ok = False
                    break
            if ok:
                keep.append(TxFilePartition(
                    os.path.join(self.table, path),
                    add.get("partitionValues"), add.get("dv")))
        return keep

    def read(self, partition: TxFilePartition) -> Iterator:
        """Yield Arrow RecordBatches (not tuples): the engine ingests
        them zero-copy, which keeps the executor path vectorized —
        measured 5× faster than row-tuple yield on a 2M-row scan.
        Present columns cast to the declared type (``_project``)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        table = pq.read_table(partition.file_path)
        if partition.dv is not None:
            # merge-on-read: drop tombstoned keys before projecting
            table = table.filter(_dv_mask(table, partition.dv,
                                          partition.partition_values,
                                          keep_matching=False))
        yield from pa.table(_project(
            table, self.fields, to_arrow_schema(self.schema_struct),
            self.colmap, partition.partition_values)).to_batches()


def _validate_chunk_constraints(rows: list, fields: list,
                                arrow_schema, constraints: dict,
                                table: str) -> None:
    """Enforce the table's CHECK constraints on one write chunk, inside
    the Arrow task worker (no JVM there): the chunk is exposed to DuckDB
    as a zero-copy Arrow table and each expression is evaluated with
    the SQL CHECK rule (only FALSE violates; NULL passes). Constraint
    expressions are ANSI-portable by this repo's own discipline (the
    same expressions are oracle-checked against DuckDB at the gate), so
    the two engines agree on them by construction."""
    if not constraints:
        return
    import duckdb
    import pyarrow as pa
    cols = list(zip(*rows))
    arrays = []
    for field, col in zip(arrow_schema, cols):
        try:
            arrays.append(pa.array(col, type=field.type))
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError) as exc:
            raise ValueError(
                f"column '{field.name}' of the write is not compatible "
                f"with the table type {field.type}: {exc}") from None
    batch_tbl = pa.table(dict(zip(fields, arrays)))
    con = duckdb.connect()
    try:
        con.register("_write_chunk", batch_tbl)
        for name in sorted(constraints):
            expr = constraints[name]
            n_bad = con.execute(
                f"SELECT count(*) FROM _write_chunk "
                f"WHERE NOT COALESCE(({expr}), TRUE)").fetchone()[0]
            if n_bad:
                raise ValueError(
                    f"CHECK constraint violation on {table}: {name!r} "
                    f"({expr}) fails for {n_bad} row(s) in this write "
                    f"task")
    finally:
        con.close()


def _remove_staged(table: str, messages) -> None:
    """Delete the files a write's tasks staged (abort, or a replayed
    streaming batch). Best-effort: vacuum sweeps leftovers."""
    for m in messages:
        for a in (m.adds or []) if m is not None else []:
            try:
                os.remove(os.path.join(table, a["path"]))
            except OSError:
                pass


@dataclass
class TxWriteMessage(WriterCommitMessage):
    """The task's staged files as ready-made add actions (numRecords +
    per-stat-col [min, max] + partitionValues for hive layouts),
    computed IN the task so the driver's commit never touches row data.
    Flat tables stage one file per task; partitioned tables one file
    per (task, partition)."""
    adds: list | None  # None: empty partition, nothing staged


class TxLogBatchWriter(DataSourceWriter):
    """``df.write.format("txlog")`` — Spark's V2 write protocol mapped
    1:1 onto the transaction-log commit protocol: each task stages ONE
    immutable parquet file into the table root and sends back its add
    action as the commit message; the driver's ``commit`` publishes a
    single JSON commit through ``txproto.commit`` (the one optimistic
    loop every txlog writer shares), so the whole distributed write is
    atomic — a reader sees all files or none, and a failed job's
    ``abort`` deletes the staged files. Modes: ``append`` (pure adds,
    retried past concurrent commits) and ``overwrite`` (remove-all +
    adds; conflicts with ANY intervening commit, the
    ``TxTable.overwrite`` rule). Either mode conflicts when an
    intervening commit changes the table's metadata (:meth:`_validate`
    names the CHECK constraint, generated-column or identity change).

    Everything driver-side is plain IO over the JSON log; per-file
    stats are computed in the task from the rows it writes, so stat
    pruning (MERGE and the batch reader) works on written data with
    zero extra passes."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("txlog requires option 'path'")
        self.table = path.rstrip("/")
        self.overwrite = overwrite
        self._io = LocalLogIO(self.table)
        snap = replay(self._io)
        # Plan-time writer gate (txproto.commit re-checks at publish),
        # so no task stages for a table this writer cannot write. It
        # writes at SUPPORTED_WRITER: append never touches existing
        # files and overwrite removes EVERY live file (deletion
        # vectors); tasks stage under the column-mapped PHYSICAL names;
        # generated columns are validated per chunk, appendOnly refuses
        # overwrite and identity tables refuse outright (below).
        check_protocol(snap.protocol,
                       f"{self.table} (txlog DataSource writer)",
                       writer=SUPPORTED_WRITER)
        meta = snap.meta
        self.partition_cols = meta.get("partition_cols") or []
        self.live = sorted(snap.live)
        # the snapshot the commit publishes on; its live set stays
        # behind (the commit loop never reads it, and this object is
        # shipped to every write task)
        self._snap = snap._replace(live={})
        self.stat_cols = meta.get("stat_cols", [])
        # plan-time refusals first (clearer than a schema mismatch):
        # identity values are engine-assigned, append-only tables
        # refuse overwrite mode
        if meta.get("identity"):
            raise ValueError(
                f"{self.table} has identity column(s) "
                f"{sorted(meta['identity'])}: values are engine-"
                f"assigned — write through TxTable.append instead of "
                f"the txlog DataSource")
        props = meta.get("properties") or {}
        if overwrite and str(props.get("appendOnly", "")
                             ).lower() in ("true", "1"):
            raise ValueError(
                f"overwrite of append-only table {self.table} "
                f"(properties['appendOnly']=true)")
        table_cols = [f.name for f in
                      StructType.fromJson(meta["schema"]).fields]
        if [f.name for f in schema.fields] != table_cols:
            raise ValueError(
                f"schema mismatch: table {self.table} has {table_cols}, "
                f"write has {[f.name for f in schema.fields]} (use "
                f"TxTable.append(merge_schema=True) to evolve)")
        self.fields = table_cols
        self.schema_json = meta["schema"]
        # CHECK constraints are ENFORCED: handed to tasks at plan time,
        # validated per-chunk in the Arrow worker (write()), re-verified
        # unchanged against every intervening commit (_validate) — the
        # three pieces of TxTable's own constraint story, mapped onto V2
        # writes.
        self.constraints = dict(meta.get("constraints") or {})
        # writer-feature trio (protocol 5), remaining member: generated
        # columns ride the same per-chunk validator as CHECK
        # constraints (the V2 schema contract means their values arrive
        # explicitly — enforce col IS NOT DISTINCT FROM (expr), the
        # Delta provided-value rule). Identity/appendOnly refused above.
        self.generated = dict(meta.get("generated") or {})
        self.enforced = dict(self.constraints)
        for c, e in self.generated.items():
            self.enforced[f"generated:{c}"] = (
                f"{c} IS NOT DISTINCT FROM ({e})")
        # column-mapped tables: tasks stage files under the stable
        # PHYSICAL names and key their in-task stats by them — the same
        # write discipline as TxTable._stage
        self.colmap = dict(meta.get("column_mapping") or {})

    #: per-task cap on simultaneously open partition files: a write
    #: whose tasks straddle more partitions than this must repartition
    #: by the partition columns first (the standard Spark discipline —
    #: matches spark.sql.sources.maxConcurrentWrites-era guidance).
    _MAX_OPEN_PARTITIONS = 64

    def write(self, iterator) -> TxWriteMessage:
        """Stream the task partition into parquet files in bounded
        memory: rows are consumed in fixed-size chunks, each chunk is
        built as Arrow RecordBatches against the table's DECLARED
        schema (never type-inferred — an all-null chunk or a mistyped
        column is either cast to the stored type or rejected here, so a
        commit can never poison later schema'd reads), and per-file
        min/max/null-count stats are folded incrementally.

        Partitioned tables stage one file per (task, partition) under
        its ``key=value/`` subpath — partition columns are EXCLUDED
        from the file data (Spark's own partitionBy layout) and ride
        the add action as typed ``partitionValues``. Directory values
        are conservatively percent-escaped (a superset of Hive's
        escaping; both Spark's discovery and the log's path parser
        decode %XX generically, so over-escaping is round-trip-safe)."""
        import uuid
        from urllib.parse import quote

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        full_schema = StructType.fromJson(self.schema_json)
        pcols = self.partition_cols
        data_fields = [f for f in full_schema.fields
                       if f.name not in pcols]
        arrow_schema = to_arrow_schema(StructType(data_fields))
        if self.colmap:
            # column-mapped staging: files store PHYSICAL names (the
            # batch arrives logical; only the schema labels change)
            arrow_schema = pa.schema(
                [pa.field(self.colmap.get(f.name, f.name), f.type)
                 for f in arrow_schema])
        # constraint validation sees FULL rows (a CHECK may reference
        # partition columns, which are excluded from the file data) and
        # speaks LOGICAL names (constraint expressions are stored SQL)
        full_arrow_schema = (to_arrow_schema(full_schema)
                             if self.enforced else None)
        data_names = [f.name for f in data_fields]
        data_idx = [self.fields.index(n) for n in data_names]
        p_idx = [self.fields.index(c) for c in pcols]
        stat_cols = [c for c in self.stat_cols if c in set(data_names)]
        stat_pos = {c: data_names.index(c) for c in stat_cols}

        def hive_dir(col: str, v) -> str:
            return f"{col}=" + ("__HIVE_DEFAULT_PARTITION__" if v is None
                                else quote(str(v), safe=""))

        state: dict[tuple, dict] = {}

        def open_state(pkey: tuple) -> dict:
            if len(state) >= self._MAX_OPEN_PARTITIONS:
                raise ValueError(
                    f"write task touches more than "
                    f"{self._MAX_OPEN_PARTITIONS} partitions of "
                    f"{self.table}; repartition the batch by "
                    f"{pcols} before writing")
            subdir = "/".join(hive_dir(c, v) for c, v in zip(pcols, pkey))
            base = f"part-{uuid.uuid4().hex[:12]}-w.parquet"
            name = f"{subdir}/{base}" if subdir else base
            dest = os.path.join(self.table, name)
            if subdir:
                os.makedirs(os.path.dirname(dest), exist_ok=True)
            return {"name": name, "dest": dest, "writer": None, "n": 0,
                    "mins": {}, "maxs": {},
                    "nulls": dict.fromkeys(stat_cols, 0), "pkey": pkey}

        try:
            while True:
                chunk = list(itertools.islice(iterator, 65536))
                if not chunk:
                    break
                rows = [tuple(r) for r in chunk]
                if self.enforced:
                    _validate_chunk_constraints(
                        rows, self.fields, full_arrow_schema,
                        self.enforced, self.table)
                if pcols:
                    groups: dict[tuple, list] = {}
                    for tr in rows:
                        groups.setdefault(
                            tuple(tr[i] for i in p_idx), []).append(tr)
                else:
                    groups = {(): rows}
                for pkey, grows in groups.items():
                    st = state.get(pkey)
                    if st is None:
                        st = state[pkey] = open_state(pkey)
                    cols = list(zip(*grows))
                    arrays = []
                    for field, i in zip(arrow_schema, data_idx):
                        try:
                            arrays.append(pa.array(cols[i],
                                                   type=field.type))
                        except (pa.ArrowInvalid, pa.ArrowTypeError,
                                OverflowError) as exc:
                            raise ValueError(
                                f"column '{field.name}' of the write is "
                                f"not compatible with the table type "
                                f"{field.type}: {exc}") from None
                    if st["writer"] is None:
                        st["writer"] = pq.ParquetWriter(st["dest"],
                                                        arrow_schema)
                    st["writer"].write_batch(pa.RecordBatch.from_arrays(
                        arrays, schema=arrow_schema))
                    st["n"] += len(grows)
                    for c in stat_cols:
                        vals = [v for v in cols[self.fields.index(c)]
                                if v is not None]
                        st["nulls"][c] += (len(grows) - len(vals))
                        if vals:
                            lo, hi = min(vals), max(vals)
                            st["mins"][c] = (lo if c not in st["mins"]
                                             else min(st["mins"][c], lo))
                            st["maxs"][c] = (hi if c not in st["maxs"]
                                             else max(st["maxs"][c], hi))
        finally:
            for st in state.values():
                if st["writer"] is not None:
                    st["writer"].close()
        adds = []
        for st in state.values():
            if st["n"] == 0:
                continue
            to_phys = self.colmap.get  # log artifacts speak physical
            add = {"path": st["name"], "numRecords": st["n"],
                   "stats": {to_phys(c, c): (
                       [stat_scalar(st["mins"][c]),
                        stat_scalar(st["maxs"][c])]
                       if c in st["mins"] else [None, None])
                             for c in stat_cols},
                   "nullCounts": {to_phys(c, c): v
                                  for c, v in st["nulls"].items()}}
            if pcols:
                add["partitionValues"] = {
                    c: stat_scalar(v)
                    for c, v in zip(pcols, st["pkey"])}
            adds.append(add)
        return TxWriteMessage(adds=adds or None)

    def _validate(self, intervening: list[dict]) -> None:
        """``txproto.commit``'s hook for both DataSource writers. The
        tasks validated their rows against the PLAN-time write rules, so
        an intervening ``meta`` action may not change the CHECK
        constraints or generated-column expressions, nor add identity
        columns (the loop's generic MetadataChanged rule would refuse
        too; this names the rule). appendOnly arriving mid-write needs
        no rule: appends stay legal, and an overwrite refuses ANY
        intervening commit."""
        for meta in (a["meta"] for a in intervening if "meta" in a):
            for key, planned in (("constraints", self.constraints),
                                 ("generated", self.generated)):
                now = meta.get(key) or {}
                if now != planned:
                    raise TxConflict(
                        f"table metadata of {self.table} changed under "
                        f"this write ({key} {sorted(planned)} -> "
                        f"{sorted(now)}); the staged rows were validated "
                        f"under the old rules - re-run the write")
            if meta.get("identity"):
                raise TxConflict(
                    f"{self.table} gained identity column(s) "
                    f"{sorted(meta['identity'])} under this write; "
                    f"identity values are engine-assigned "
                    f"(TxTable.append) - re-run")
        if self.overwrite and intervening:
            raise TxConflict(
                f"overwrite of {self.table} raced a concurrent commit "
                f"(read at v{self._snap.version}); re-run on the new "
                f"snapshot")

    def commit(self, messages) -> None:
        actions = ([{"remove": {"path": p}} for p in self.live]
                   if self.overwrite else [])
        actions += [{"add": a} for m in messages
                    if m is not None for a in (m.adds or [])]
        if not actions:
            return  # empty append: nothing to publish
        txproto.commit(self._io, actions + [_info_action(
            "overwrite" if self.overwrite else "append", writer="batch")],
            self._snap, validate=self._validate)

    def abort(self, messages) -> None:
        _remove_staged(self.table, messages)


class TxLogStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("txlog")`` — an exactly-once streaming
    sink at the PROTOCOL level (the public Delta idempotent-writes
    design): every micro-batch commit carries a ``txn`` action
    ``{appId: <txnAppId option>, version: <batchId>}``, and a commit
    whose batchId is at-or-below the table's last recorded txn version
    for that appId publishes NOTHING (staged duplicates deleted). A
    crash between the table commit and the stream checkpoint commit —
    the classic double-write window, which keyed MERGE sinks survive
    only by re-deduplicating rows — replays the batch, hits the txn
    guard, and the table is untouched: exactly-once without requiring
    a key. The commit is ``txproto.commit(txn=...)``, the loop every
    txlog writer shares: the skip-or-publish decision is re-taken on
    every commit published since the snapshot, so it serializes with
    every concurrent commit, and the write rules of
    :class:`TxLogBatchWriter` apply unchanged.

    ``txnAppId`` is REQUIRED: it scopes the idempotency ledger, and a
    default would silently cross-deduplicate unrelated queries writing
    the same table (two fresh queries both start at batchId 0).
    Append-only, like any streaming table sink; each task stages one
    file with in-task stats, identical to the batch writer."""

    def __init__(self, options, schema: StructType):
        self._delegate = TxLogBatchWriter(options, schema, overwrite=False)
        self.table = self._delegate.table
        app_id = options.get("txnAppId")
        if not app_id:
            raise ValueError(
                "txlog streaming sink requires option 'txnAppId' (scopes "
                "the exactly-once txn ledger; no safe default exists)")
        self.app_id = app_id

    def write(self, iterator) -> TxWriteMessage:
        return self._delegate.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        d = self._delegate
        actions = [{"add": a} for m in messages
                   if m is not None for a in (m.adds or [])]
        actions.append(_info_action("append", writer="stream",
                                    batch_id=int(batchId)))
        if txproto.commit(d._io, actions, d._snap, validate=d._validate,
                          txn=(self.app_id, batchId)) is None:
            _remove_staged(self.table, messages)  # replayed: no-op

    def abort(self, messages, batchId: int) -> None:
        _remove_staged(self.table, messages)


class TxLogDataSource(DataSource):
    """``format("txlog")`` — snapshot reads with log-stat file skipping."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("txlog requires option 'path'")
        table = path.rstrip("/")
        _, meta, _, _, _ = replay(LocalLogIO(table),
                                  _resolve_version(self.options, table))
        return StructType.fromJson(meta["schema"])

    def reader(self, schema) -> TxLogBatchReader:
        return TxLogBatchReader(self.options)

    def writer(self, schema, overwrite: bool) -> TxLogBatchWriter:
        return TxLogBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> TxLogStreamWriter:
        return TxLogStreamWriter(self.options, schema)


def register(spark) -> None:
    """Make ``spark.read.format("txlog")`` available on this session
    (and enable Python-source filter pushdown, the same runtime conf
    the weather API source flips)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxLogDataSource)
