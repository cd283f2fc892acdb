"""Transaction-log parquet tables: atomic MERGE / time travel / file pruning.

Realizes the S8 transactional tier (reference ``stg_weather_raw.sql:3-7`` —
Snowflake MERGE semantics via dbt ``unique_key``) with an executable local
implementation instead of the env-gated delta-spark dependency: a versioned
JSON action log over immutable parquet files, the same core protocol shape
as the open Delta Lake / Iceberg designs (public specs), reduced to what the
pipeline needs:

* ``_txlog/%020d.json`` commit files, one JSON action per line
  (``meta`` / ``add`` / ``remove``); a snapshot at version V is the fold of
  all commits ``<= V`` (adds minus removes).
* Commits are published by exclusive-create of the next version file
  through the one commit loop, ``txproto.commit``, which every txlog
  writer shares. Losing a race re-reads the commits published since the
  read snapshot and retries on top of them; a retry that finds its
  *read set* invalidated (a file it planned to remove was already
  removed) raises :class:`TxConflict` instead of silently
  double-applying, and a ``txn`` batch a concurrent writer already
  applied publishes nothing.
* Data files are immutable and carry per-file min/max stats for the
  declared ``stat_cols`` in their ``add`` action, so MERGE touches only
  files whose stat range overlaps the batch — cost ∝ affected files, not
  table size. At 100 TB this is the difference between rewriting a few
  collision files and rescanning years of history; the log itself stays
  driver-sized (one small JSON line per file, exactly like Delta's
  driver-held snapshot).
* ``merge_upsert(update=False)`` is the reference's first-writer-wins
  insert-only MERGE; ``update=True`` is last-wins copy-on-write (rewrites
  only the files that actually hold colliding keys).
* Removed files stay on disk so every historical version remains readable
  (time travel); ``vacuum()`` explicitly deletes files unreferenced by the
  current version.
* ``_txlog/%020d.checkpoint.json`` snapshot checkpoints (the public Delta
  checkpoint pattern): every ``checkpointInterval`` commits (table
  property, default ``txproto.CHECKPOINT_INTERVAL``) the folded snapshot
  is written out, and ``_snapshot`` folds forward from
  the newest checkpoint at-or-before the target version instead of from
  commit 0 — O(interval) log reads per operation regardless of table age.
  Without this, a streaming writer committing once per micro-batch makes
  every snapshot O(total commits ever): unbounded. Commit files are never
  deleted (they stay KB-sized and keep time travel / change feeds exact).
* ``optimize()`` bin-packs small live files into large ones in one atomic
  commit whose actions carry ``dataChange: false`` (Delta's OPTIMIZE
  contract): readers see the same rows, and the change feed
  (:meth:`TxTable.read_changes` / the ``txlog_cdc`` stream) skips
  compaction churn entirely — a downstream consumer is not re-fed the
  table because its layout improved.

Everything data-sized runs as Spark jobs (staging writes, per-file stats via
``input_file_name`` group-by, key collision probes as semi/anti joins); the
driver holds only the action log and per-file stat rows (one per file).
"""

from __future__ import annotations

import itertools
import json
import time
import uuid
from collections import Counter
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..artifacts import materialize
from . import txproto
from .genexpr import parse_generation_expr
from .incremental import net_changes
from .txproto import (BASE_PROTOCOL, COLMAP_PROTOCOL,
                      LOG_DIR, PARTITION_PROTOCOL, SUPPORTED_READER,
                      SUPPORTED_WRITER, HadoopLogIO, LocalLogIO, LogState,
                      TxConflict, TxCorruption, TxProtocolError,
                      WRITE_FEATURES_PROTOCOL,
                      canon_temporal as _canon,
                      check_protocol, checkpoint_name,
                      dv_minus, info_action as _info_action,
                      latest_version, log_listing,
                      merged_protocol, needs_upgrade,
                      parse_partition_values as _parse_partition_values,
                      protocol_action, publish, read_checkpoint, read_commit,
                      replay, stat_scalar,
                      unquote_path as _unq, walk_changes)


def _bloom_spec(schema: StructType, cols: Sequence[str], m: int,
                k: int) -> dict | None:
    """Validate + normalize a bloom opt-in. Integral/string columns
    only: the write-side (Spark CAST AS STRING) and probe-side (Python
    str()) value forms must agree byte-for-byte, which floats do not
    guarantee across engines."""
    if not cols:
        return None
    ok_types = {"byte", "short", "integer", "long", "string"}
    by_name = {f.name: f.dataType.typeName() for f in schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"bloom column {c!r} not in schema")
        if by_name[c] not in ok_types:
            raise ValueError(
                f"bloom column {c!r} has type {by_name[c]}; only "
                f"integral/string columns hash portably")
    # k is capped at 4 because both hash sides slice 8 hex chars per
    # hash from ONE 32-char md5 hexdigest (write: SUBSTRING over md5();
    # probe: _bloom_positions) — a fifth slice would run past the digest
    # end (null positions on the Spark side, int('') on the probe side).
    if m < 8 or k < 1 or k > 4:
        raise ValueError(f"bloom_bits >= 8 and 1 <= bloom_hashes <= 4 "
                         f"required (4 x 8 hex chars exhaust the md5 "
                         f"digest both hash sides slice), got m={m} k={k}")
    return {"cols": list(cols), "m": int(m), "k": int(k)}


def _typed_partition_values(given: dict, meta: dict, table: str) -> dict:
    """Validate/normalize user-supplied ``{col: value}`` partition
    selectors against the declared partition column TYPES (the
    ``partition_scalar`` domain that recorded ``partitionValues`` live
    in). Recorded values are matched with strict Python equality, so a
    mistyped selector (``'2021'`` against an int column) would match
    zero files and silently read empty / overwrite nothing — strings
    are cast through the same decoder the hive paths use, anything
    else mistyped raises."""
    from .txproto import partition_scalar
    pcols = meta.get("partition_cols") or []
    bad = sorted(set(given) - set(pcols))
    if bad:
        raise ValueError(
            f"{table} is not partitioned by {bad}; declared "
            f"partition columns: {pcols}")
    types = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
    expect = {"byte": int, "short": int, "integer": int, "long": int,
              "float": float, "double": float, "boolean": bool}
    out = {}
    for c, v in given.items():
        t = types.get(c)
        want = expect.get(t, str) if isinstance(t, str) else str
        if v is None or (isinstance(v, want)
                         and not (want is int and isinstance(v, bool))):
            out[c] = v
        elif isinstance(v, str):
            try:
                out[c] = partition_scalar(v, t)
            except ValueError:
                raise ValueError(
                    f"partition value {v!r} for column {c!r} of {table} "
                    f"does not parse as its declared type {t!r}")
        elif want is float and isinstance(v, int) and not isinstance(v, bool):
            out[c] = float(v)
        else:
            raise ValueError(
                f"partition value {v!r} ({type(v).__name__}) for column "
                f"{c!r} of {table} does not match its declared type "
                f"{t!r}; recorded partitionValues are typed and compared "
                f"exactly, so a mistyped selector would silently match "
                f"zero files")
    return out


def _add_to_logical(inv: dict, add: dict) -> dict:
    """Translate ONE raw add action's physical-keyed artifacts (stats,
    nullCounts, bloom bitsets, dv keyCols) into the logical name space
    of a column-mapped table (``inv`` = physical→logical). Entries for
    physical columns no longer mapped (DROPPED columns) are excluded —
    a later re-added column with the same logical name must never
    inherit a dead column's stats (it has a fresh physical id).
    ``partitionValues`` pass through untouched: partition columns are
    unrenameable/undroppable, so physical == logical for them always.
    Never mutates ``add`` (checkpoints alias these dicts)."""
    out = dict(add)
    for key in ("stats", "nullCounts", "bloom"):
        if add.get(key):
            out[key] = {inv[c]: v for c, v in add[key].items()
                        if c in inv}
    if add.get("dv"):
        d = add["dv"]
        out["dv"] = {"keyCols": [inv.get(c, c) for c in d["keyCols"]],
                     "keys": d["keys"]}
    return out


def _colmap_inverse(meta: dict) -> dict | None:
    """physical→logical map of a column-mapped table's meta (None when
    the table has no mapping — the zero-overhead common case)."""
    cm = meta.get("column_mapping")
    if not cm:
        return None
    return {p: l for l, p in cm.items()}


def _jpath(spark: SparkSession, p: str):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def _fs(spark: SparkSession, p: str):
    return _jpath(spark, p).getFileSystem(spark._jsc.hadoopConfiguration())


class TxTable:
    """A transaction-log parquet table rooted at ``path``.

    Construct via :meth:`create` (new table) or ``TxTable(spark, path)``
    (existing). All mutating ops commit atomically; readers always see a
    complete version.
    """

    def __init__(self, spark: SparkSession, path: str):
        self._bind(spark, path)
        try:
            latest_version(self._io)
        except ValueError:
            raise ValueError(f"{path} is not a txlog table (no {LOG_DIR}); "
                             "use TxTable.create()") from None

    def _bind(self, spark: SparkSession, path: str) -> None:
        """Attach to ``path`` without checking for a log (create/convert/
        clone bind before publishing commit 0). The log IO follows the
        same predicate as every publish: plain ``os`` IO on local paths,
        Hadoop FS only for ``scheme://`` paths."""
        self.spark = spark
        self.path = path.rstrip("/")
        self.log_dir = f"{self.path}/{LOG_DIR}"
        self._io = (HadoopLogIO(spark, self.path) if "://" in self.path
                    else LocalLogIO(self.path))

    # ---------------------------------------------------------------- log IO
    def repair_torn_commit(self, version: int) -> None:
        """Recover a TORN commit (claim-then-write crash on a non-atomic
        store) by rewriting it as an explicit empty commit.

        Correctness: the dead writer's ``_commit`` never returned, so no
        caller was ever acknowledged for this version — an empty commit
        is the unique history consistent with every observed outcome
        (the writer's retry, if any, republishes the SAME actions at a
        later version). CDC readers see version ``version`` as an empty
        change set, which composes with the fold invariant.

        OPERATIONAL CONTRACT (same as Delta's FSCK): only run this after
        confirming no writer is still in flight for ``version`` — on a
        non-atomic store an in-progress publish is indistinguishable
        from a crashed one. Refuses (ValueError) if the file parses
        cleanly; idempotent over an already-repaired file is a refusal
        too (a repaired commit IS clean) — ``txproto.repair_commit``.
        """
        txproto.repair_commit(self._io, version)

    def _checkpoint_versions(self) -> list[int]:
        return log_listing(self._io)[1]

    def last_txn(self, app_id: str) -> int | None:
        """The highest txn version committed for ``app_id`` (None if the
        app never wrote) — an idempotent writer skips any batch whose id
        is <= this."""
        return self._fold().txns.get(app_id)

    def write_checkpoint(self, version: int | None = None) -> int:
        """Materialize the folded snapshot at ``version`` (default: latest)
        as ``%020d.checkpoint.json`` so later snapshots fold forward from
        it instead of from commit 0 (``txproto.write_checkpoint``: a
        valid existing checkpoint is kept, a legacy or torn one is
        regenerated in place). Returns the checkpointed version."""
        return txproto.write_checkpoint(self._io, self._fold(version))

    def _fold(self, version: int | None = None) -> txproto.Snapshot:
        """The RAW log replay at ``version`` (``txproto.replay``),
        kept as ``_read`` (the snapshot :meth:`_commit` publishes on and
        the ``txn`` guards read) with its protocol as ``_proto``."""
        snap = replay(self._io, version)
        self._read = snap
        self._proto = snap.protocol
        return snap

    def _replayed(self, txn: tuple[str, int] | None) -> bool:
        """True when ``txn=(app_id, version)`` is already in the ledger
        of the snapshot just folded: a replayed batch, applied before."""
        return (txn is not None
                and self._read.txns.get(txn[0], -1) >= txn[1])

    def _snapshot(self, version: int | None = None, raw: bool = False):
        """Fold the log: returns (version, meta, {relpath: add-action}).

        Column-mapped tables (``meta["column_mapping"]``): the LOG keys
        every per-file artifact (stats, nullCounts, bloom, dv keyCols)
        by stable PHYSICAL column names so renames never rewrite data or
        history; the fold translates them to the snapshot's LOGICAL
        names here, at the one boundary every planner reads through —
        so all pruning/DML code works purely in logical space.
        ``raw=True`` skips the translation for callers that write
        actions BACK to the log (checkpoint, restore, clone) or audit
        physical state (fsck): re-published actions must stay
        physical-keyed. Unmapped tables skip translation entirely."""
        v, meta, live, _, _ = self._fold(version)
        if not raw:
            inv = _colmap_inverse(meta)
            if inv:
                live = {p: _add_to_logical(inv, a)
                        for p, a in live.items()}
        return v, meta, live

    def _commit(self, actions: list[dict], read_version: int,
                validate=None, info: dict | None = None,
                txn: tuple[str, int] | None = None) -> int:
        """Publish ``actions`` planned on the snapshot at
        ``read_version`` through the one commit loop
        (``txproto.commit``: the conflict rules, the op's
        ``validate(intervening_actions)`` hook, the ``txn`` ledger,
        in-commit timestamps, the checkpoint cadence). Returns the
        published version, or the current one when a concurrent writer
        already applied ``txn``.

        The ``autoCompact`` property (the public Delta auto-compaction
        design) is the one Spark-side step: after a row-staging commit
        publishes, bin-pack when the small-file count crosses the
        threshold. Best-effort like the checkpoint (a lost OPTIMIZE race
        costs nothing; the next write retries); the reentrancy flag
        keeps the compaction commit itself from re-triggering it."""
        snap = getattr(self, "_read", None)
        if snap is None or snap.version != read_version:
            snap = self._fold(read_version)
        if info is not None:
            actions = actions + [_info_action(**info)]
        published = txproto.commit(self._io, actions, snap,
                                   validate=validate, txn=txn)
        if published is None:
            return self.version
        props = snap.meta.get("properties") or {}
        if (any("add" in a and a["add"].get("dataChange", True)
                for a in actions)
                and str(props.get("autoCompact", "")).lower() in ("true", "1")
                and not getattr(self, "_auto_compacting", False)):
            target = int(props.get("autoCompactTargetRows", 1_000_000))
            min_files = int(props.get("autoCompactMinFiles", 16))
            self._auto_compacting = True
            try:
                _, _m, live = self._snapshot()
                small = [p for p, a in live.items()
                         if a.get("numRecords", target) < target]
                if len(small) >= min_files:
                    self.optimize(target_rows=target)
            except Exception:
                pass
            finally:
                self._auto_compacting = False
        return published

    # ------------------------------------------------------------- data files
    def _stage(self, df: DataFrame, stat_cols: Sequence[str],
               data_change: bool = True,
               bloom: dict | None = None,
               constraints: dict | None = None,
               partition_cols: Sequence[str] = (),
               colmap: dict | None = None) -> list[dict]:
        """Write ``df`` as immutable parquet files in the table root and
        return their ``add`` actions (with per-file min/max stats).

        ``data_change=False`` tags the adds as layout-only (compaction):
        change-feed readers skip them. Absent means true, so logs written
        before this flag existed keep their meaning.

        ``partition_cols``: hive-partitioned staging — files land under
        their ``key=value/`` subpaths (the partition columns are NOT in
        the file data, Spark's own ``partitionBy`` layout), the add
        actions carry ``path`` = relative path and typed
        ``partitionValues`` (the public Delta add-action shape), and
        :meth:`_overlaps` treats those values as exact stats.

        ``colmap``: column-mapped staging — the batch arrives in LOGICAL
        names (every caller conforms it first); files are written under
        the stable PHYSICAL names and the add actions key stats/bloom by
        them, so a later rename is pure metadata. The stats/constraint
        pass itself runs in logical space (constraint expressions are
        written over logical names).

        The staged write and the stats pass are Spark jobs; only one stat
        row *per file* reaches the driver."""
        tag = uuid.uuid4().hex[:12]
        staged = f"{self.path}/_staged_{tag}"
        pcols = list(partition_cols or ())
        to_phys = (colmap or {}).get
        phys_df = (df.select(*[F.col(c).alias(to_phys(c, c))
                               for c in df.columns]) if colmap else df)
        if pcols:
            # partition columns are unrenameable (physical == logical)
            phys_df.write.partitionBy(*pcols).parquet(staged)
        else:
            phys_df.write.parquet(staged)
        fs = _fs(self.spark, staged)
        if pcols:
            parts = []  # relative paths incl. key=value/ prefixes

            def walk(prefix: str) -> None:
                for st in fs.listStatus(_jpath(
                        self.spark, f"{staged}/{prefix}".rstrip("/"))):
                    name = st.getPath().getName()
                    if st.isDirectory():
                        walk(f"{prefix}{name}/")
                    elif name.endswith(".parquet"):
                        parts.append(f"{prefix}{name}")
            walk("")
        else:
            parts = [st.getPath().getName()
                     for st in fs.listStatus(_jpath(self.spark, staged))
                     if st.getPath().getName().endswith(".parquet")]
        if not parts:
            fs.delete(_jpath(self.spark, staged), True)
            return []
        reader = self.spark.read
        if pcols:
            # partition columns come back from the staged paths, typed
            # by the batch's own schema. _file is the RELATIVE staged
            # path: partitionBy reuses part numbers across partition
            # directories, so basenames alone would collide and merge
            # two files' stats.
            reader = reader.schema(phys_df.schema).option("basePath",
                                                          staged)
            file_expr = F.substring_index(
                F.input_file_name(), f"_staged_{tag}/", -1)
        else:
            file_expr = F.element_at(
                F.split(F.input_file_name(), "/"), -1)
        # read the listed part files, not the ``_staged_`` root: Spark's
        # hidden-path filter drops a root named ``_*`` with a warning
        sdf = (reader.parquet(*[f"{staged}/{p}" for p in parts])
               .withColumn("_file", file_expr))
        if colmap:
            # back to logical for the stats/constraint pass (stat_cols,
            # bloom cols and CHECK expressions all speak logical names)
            inv = {p: l for l, p in colmap.items()}
            sdf = sdf.select(
                *[F.col(p).alias(inv.get(p, p))
                  for p in sdf.columns if p != "_file"], "_file")
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in stat_cols:
            aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}"),
                     F.count(F.when(F.col(c).isNull(), 1))
                     .alias(f"_nulls_{c}")]
        # CHECK constraints ride the same stats pass (zero extra jobs):
        # SQL semantics — only an expression evaluating to FALSE violates
        # (NULL passes), matching the public Delta CHECK contract
        cnames = sorted(constraints or {})
        for i, cn in enumerate(cnames):
            aggs.append(F.count(F.when(
                ~F.coalesce(F.expr(constraints[cn]), F.lit(True)), 1))
                .alias(f"_viol_{i}"))
        stat_rows = {_unq(r["_file"]): r for r in
                     sdf.groupBy("_file").agg(*aggs).collect()}
        if cnames:
            viol = {cn: sum(int(r[f"_viol_{i}"])
                            for r in stat_rows.values())
                    for i, cn in enumerate(cnames)}
            bad = {cn: n for cn, n in viol.items() if n}
            if bad:
                fs.delete(_jpath(self.spark, staged), True)
                raise ValueError(
                    f"CHECK constraint violation on {self.path}: "
                    + ", ".join(f"{cn!r} ({constraints[cn]}) fails for "
                                f"{n} row(s)" for cn, n in bad.items()))
        blooms = ({c: self._bloom_bitsets(sdf, c, bloom)
                   for c in bloom["cols"]}
                  if bloom and bloom.get("cols") else {})
        ptypes = {f.name: f.dataType.typeName() for f in df.schema.fields}
        made_dirs: set[str] = set()
        adds = []
        for i, name in enumerate(sorted(parts)):
            r = stat_rows.get(name)
            if r is None:
                continue  # zero-row part file: nothing to commit
            base = name.rsplit("/", 1)[-1]
            subdir = name[:-len(base)].rstrip("/")
            # the index makes the final BASENAME globally unique even
            # though partitionBy reuses part numbers across partition
            # directories (planners identify probe hits by basename)
            final = (f"{subdir}/part-{tag}-{i:05d}.parquet" if subdir
                     else f"part-{tag}-{base}")
            if subdir and subdir not in made_dirs:
                fs.mkdirs(_jpath(self.spark, f"{self.path}/{subdir}"))
                made_dirs.add(subdir)
            ok = fs.rename(_jpath(self.spark, f"{staged}/{name}"),
                           _jpath(self.spark, f"{self.path}/{final}"))
            if not ok:
                raise IOError(f"rename of staged file {name} failed")
            stats = {to_phys(c, c): [stat_scalar(r[f"_min_{c}"]),
                                     stat_scalar(r[f"_max_{c}"])]
                     for c in stat_cols}
            add = {"path": final, "numRecords": int(r["_n"]), "stats": stats,
                   "nullCounts": {to_phys(c, c): int(r[f"_nulls_{c}"])
                                  for c in stat_cols}}
            if pcols:
                add["partitionValues"] = _parse_partition_values(
                    final, pcols, ptypes)
            if bloom and bloom.get("cols"):
                add["bloom"] = {to_phys(c, c): blooms[c].get(name, "")
                                for c in bloom["cols"]}
            if not data_change:
                add["dataChange"] = False
            adds.append({"add": add})
        fs.delete(_jpath(self.spark, staged), True)
        return adds

    # ------------------------------------------------------------------ API
    @staticmethod
    def create(spark: SparkSession, df: DataFrame, path: str,
               stat_cols: Sequence[str] = (),
               bloom_cols: Sequence[str] = (), bloom_bits: int = 4096,
               bloom_hashes: int = 3,
               constraints: dict[str, str] | None = None,
               partition_cols: Sequence[str] = (),
               generated: dict[str, str] | None = None,
               identity: dict[str, dict] | None = None,
               properties: dict | None = None) -> "TxTable":
        """Create a new table at ``path`` from ``df`` (commit 0).

        ``bloom_cols`` opts columns into per-file Bloom membership
        filters (see ``_bloom_candidates``): size ``bloom_bits`` so it
        is ~10 bits per expected distinct key per file (FPR ≈ 1%); an
        undersized filter saturates and merely stops pruning. Integral
        and string columns only — the write/probe hash must agree on
        the value's string form.

        ``partition_cols`` declares a hive-partitioned layout (the
        reference's own raw-lake shape — ``country/city/`` prefixes,
        ``meteomatics_get_data.py:116-133``): data files live under
        ``key=value/`` subpaths without the partition columns in the
        file data, add actions carry typed ``partitionValues`` (the
        public Delta shape), every keyed planner partition-prunes
        BEFORE stat-pruning, and the table's protocol declares
        minReader 2.

        ``generated={col: sql_expr}`` declares GENERATED columns (the
        public Delta ``GENERATED ALWAYS AS (expr)``): a batch may omit
        the column (computed at write) or provide it (validated —
        every staged file enforces ``col IS NOT DISTINCT FROM (expr)``
        through the constraint machinery). A generated PARTITION
        column additionally prunes from predicates on its BASE column
        when the expression is a registered monotone shape
        (``operators/genexpr.py``) — partition by ``year(ts)`` and a
        filter on ``ts`` still skips partitions, in the keyed DML
        planners and the ``txlog`` DataSource both.

        ``identity={col: {"start": 1, "step": 1}}`` declares GENERATED
        ALWAYS AS IDENTITY columns (long): values are engine-assigned
        on create/append/overwrite, unique and step-directed (gaps
        allowed — the public Delta identity contract), with the
        high-water mark advanced in the same atomic commit via the
        staged files' own stats. Providing the column is an error;
        concurrent identity appends conflict (MetadataChanged) instead
        of double-allocating.

        ``properties`` seeds table properties (see
        :meth:`alter_properties` — ``appendOnly``,
        ``checkpointInterval``, free-form user keys).

        Any of the three gates the protocol at minWriter 5."""
        path = path.rstrip("/")
        pcols = list(partition_cols or ())
        gen = dict(generated or {})
        ident = {c: {"start": int(s.get("start", 1)),
                     "step": int(s.get("step", 1))}
                 for c, s in (identity or {}).items()}
        for c, s in ident.items():
            if s["step"] == 0:
                raise ValueError(f"identity column {c!r}: step must be "
                                 f"nonzero")
            if c in gen:
                raise ValueError(f"column {c!r} cannot be both "
                                 f"generated and identity")
            if c in pcols:
                raise ValueError(f"identity column {c!r} cannot be a "
                                 f"partition column")
            if c in df.columns:
                raise ValueError(
                    f"identity column {c!r} is GENERATED ALWAYS: the "
                    f"create batch must omit it")
        for c, expr in gen.items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(expr))
        names = [f.name for f in df.schema.fields]
        bad = sorted(set(pcols) - set(names) - set(ident))
        if bad:
            raise ValueError(f"partition columns {bad} not in schema "
                             f"{names}")
        if pcols and len(pcols) == len(names):
            raise ValueError("cannot partition by every column: files "
                             "would hold no data columns")
        bloom = _bloom_spec(df.schema, bloom_cols, bloom_bits,
                            bloom_hashes)
        fs = _fs(spark, path)
        log = _jpath(spark, f"{path}/{LOG_DIR}")
        if fs.exists(log):
            raise ValueError(f"{path} is already a txlog table")
        fs.mkdirs(log)
        t = object.__new__(TxTable)
        t._bind(spark, path)
        # the stored schema is all-NULLABLE: parquet files can't enforce
        # NOT NULL, schema evolution null-fills old files, and a reader
        # that trusts a non-nullable field over data that can hold nulls
        # miscompiles (`k is null` constant-folds to false and the
        # vectorized reader throws on a real null) — the Delta default
        # absent explicit constraints
        stat_cols = list(stat_cols) + [c for c in sorted(ident)
                                       if c not in stat_cols]
        pre = {"identity": ident} if ident else {}
        if ident:
            df = t._assign_identity(df, pre)
        nullable = StructType([StructField(f.name, f.dataType, True)
                               for f in df.schema.fields])
        meta = {"schema": json.loads(nullable.json()),
                "stat_cols": stat_cols}
        if pcols:
            meta["partition_cols"] = pcols
        if bloom:
            meta["bloom"] = bloom
        if constraints:
            meta["constraints"] = dict(constraints)
        if gen:
            meta["generated"] = gen
        if ident:
            meta["identity"] = ident
        if properties:
            meta["properties"] = dict(properties)
        # protocol first (the Delta commit-0 convention): a too-old
        # client refuses at the declared gate before interpreting
        # anything else
        proto = PARTITION_PROTOCOL if pcols else BASE_PROTOCOL
        if gen or ident or str((properties or {}).get(
                "appendOnly", "")).lower() in ("true", "1"):
            proto = merged_protocol(proto, WRITE_FEATURES_PROTOCOL)
        adds = t._stage(df, stat_cols, bloom=bloom,
                        constraints=t._write_constraints(meta),
                        partition_cols=pcols)
        meta = t._identity_meta(meta, adds) or meta
        actions = [protocol_action(proto), {"meta": meta}]
        actions += adds
        actions.append(_info_action("create"))
        if not publish(t._io, 0, actions):
            raise TxConflict(f"concurrent create of {path}")
        return t

    @staticmethod
    def convert(spark: SparkSession, path: str,
                stat_cols: Sequence[str] = (),
                bloom_cols: Sequence[str] = (), bloom_bits: int = 4096,
                bloom_hashes: int = 3) -> "TxTable":
        """Adopt an existing plain-parquet directory as a txlog table IN
        PLACE — the public Delta ``CONVERT TO DELTA`` semantics: no data
        is rewritten or moved; one stats job over the existing files
        produces commit 0 referencing them by name. That makes adoption
        of a petabyte directory cost one scan (row counts + min/max for
        ``stat_cols``, one collected row per FILE — the same discipline
        as ``_stage``) instead of a rewrite, after which every txlog
        capability (ACID DML, time travel to the adopted state, CDC,
        OPTIMIZE, fsck) applies to data written by plain
        ``df.write.parquet``.

        Hive-partitioned layouts (``key=value`` subdirectories — the
        reference's own raw-lake shape, and exactly what the S5
        partitioned writer produces) are adopted IN PLACE too: partition
        columns and their types come from Spark's standard partition
        discovery over the directory names, every add action carries
        the file's typed ``partitionValues`` (derived from its path in
        the same one stats scan), and the table's protocol declares
        minReader 2. All files must share one consistent partition
        depth (mixed flat/partitioned directories are ambiguous and
        refused, matching Spark's own scan behavior)."""
        path = path.rstrip("/")
        fs = _fs(spark, path)
        if fs.exists(_jpath(spark, f"{path}/{LOG_DIR}")):
            raise ValueError(f"{path} is already a txlog table")
        parts: list[str] = []  # relative paths incl. key=value/ prefixes

        def walk(prefix: str) -> None:
            for st in fs.listStatus(
                    _jpath(spark, f"{path}/{prefix}".rstrip("/"))):
                name = st.getPath().getName()
                if st.isDirectory():
                    if name.startswith("_") or name.startswith("."):
                        continue  # _staged_* leftovers, metadata dirs
                    walk(f"{prefix}{name}/")
                elif name.endswith(".parquet"):
                    parts.append(f"{prefix}{name}")
        walk("")
        if not parts:
            raise ValueError(f"no parquet files to convert in {path}")
        # one consistent partition-column sequence across every file
        # (Spark's own partition discovery requires the same)
        depths = {tuple(seg.partition("=")[0]
                        for seg in p.split("/")[:-1]) for p in parts}
        if len(depths) != 1:
            raise ValueError(
                f"{path} mixes partition layouts {sorted(depths)}; "
                f"convert requires one consistent key=value depth")
        pcols = list(next(iter(depths)))
        if any(not c for c in pcols):
            raise ValueError(
                f"{path} has non-hive subdirectories "
                f"({sorted(depths)}); convert adopts flat or key=value "
                f"layouts only")
        # Spark's partition discovery supplies partition column TYPES
        # (year=2021 → int) exactly as a plain read of this lake would.
        df = spark.read.parquet(path)
        bloom = _bloom_spec(df.schema, bloom_cols, bloom_bits,
                            bloom_hashes)
        nullable = StructType([StructField(f.name, f.dataType, True)
                               for f in df.schema.fields])
        ptypes = {f.name: f.dataType.typeName() for f in df.schema.fields}
        # _file = RELATIVE path (adopted Spark layouts reuse part
        # numbers across partition directories, so basenames collide)
        sdf = df.withColumn("_file", TxTable._file_expr(len(pcols)))
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in stat_cols:
            aggs += [F.min(c).alias(f"_min_{c}"),
                     F.max(c).alias(f"_max_{c}"),
                     F.count(F.when(F.col(c).isNull(), 1))
                     .alias(f"_nulls_{c}")]
        stat_rows = {_unq(r["_file"]): r for r in
                     sdf.groupBy("_file").agg(*aggs).collect()}
        blooms = ({c: TxTable._bloom_bitsets(sdf, c, bloom)
                   for c in bloom["cols"]} if bloom else {})
        meta = {"schema": json.loads(nullable.json()),
                "stat_cols": list(stat_cols)}
        if pcols:
            meta["partition_cols"] = pcols
        if bloom:
            meta["bloom"] = bloom
        actions = [protocol_action(
            PARTITION_PROTOCOL if pcols else BASE_PROTOCOL),
            {"meta": meta}]
        for rel in sorted(parts):
            r = stat_rows.get(rel)
            if r is None:
                continue  # zero-row file: nothing worth referencing
            add = {
                "path": rel, "numRecords": int(r["_n"]),
                "stats": {c: [stat_scalar(r[f"_min_{c}"]),
                              stat_scalar(r[f"_max_{c}"])]
                          for c in stat_cols},
                "nullCounts": {c: int(r[f"_nulls_{c}"])
                               for c in stat_cols}}
            if pcols:
                add["partitionValues"] = _parse_partition_values(
                    rel, pcols, ptypes)
            if bloom:
                add["bloom"] = {c: blooms[c].get(rel, "")
                                for c in bloom["cols"]}
            actions.append({"add": add})
        t = object.__new__(TxTable)
        t._bind(spark, path)
        actions.append(_info_action(
            "convert", files=sum(1 for a in actions if "add" in a)))
        fs.mkdirs(_jpath(spark, t.log_dir))
        if not publish(t._io, 0, actions):
            raise TxConflict(f"concurrent create/convert of {path}")
        return t

    def clone(self, target: str,
              version: int | None = None) -> "TxTable":
        """SHALLOW CLONE (the public Delta ``CLONE`` semantics): create
        a new, independent table at ``target`` whose commit 0 references
        this table's live files BY ABSOLUTE PATH — zero data copied, one
        KB-sized commit, at any table size. The branch-a-100TB-table
        move: experiments run DML against the clone (copy-on-write
        writes NEW local files and drops references to source files —
        the source is never touched), time travel/CDC/fsck all work,
        and ``version=`` clones any historical snapshot.

        Stats, Bloom filters, CHECK constraints, partition layout,
        and live deletion vectors all carry over (partitioned scans
        group by file ROOT so source-rooted and locally rewritten
        files each get a valid ``basePath`` ancestor).

        The Delta caveat applies verbatim: ``vacuum`` on the SOURCE
        does not know about clone references — vacuuming source
        versions a clone still references breaks the clone (its fsck
        reports the missing files). Clone from snapshots the source
        retains."""
        v, meta, live = self._snapshot(version, raw=True)
        target = target.rstrip("/")
        fs = _fs(self.spark, target)
        log = _jpath(self.spark, f"{target}/{LOG_DIR}")
        if fs.exists(log):
            raise ValueError(f"{target} is already a txlog table")
        fs.mkdirs(log)
        proto = getattr(self, "_proto", None) or BASE_PROTOCOL
        actions = [protocol_action(proto), {"meta": dict(meta)}]
        dv_actions = []
        for p in sorted(live):
            add = dict(live[p])
            dv = add.pop("dv", None)
            add["path"] = self._abs(p)
            actions.append({"add": add})
            if dv:
                # re-established AFTER the add (fold order)
                dv_actions.append({"dv": {"path": self._abs(p),
                                          "keyCols": dv["keyCols"],
                                          "keys": dv["keys"]}})
        actions += dv_actions
        actions.append(_info_action("clone", source=self.path,
                                    source_version=int(v)))
        t = object.__new__(TxTable)
        t._bind(self.spark, target)
        if not publish(t._io, 0, actions):
            raise TxConflict(f"concurrent create of {target}")
        # Register the clone in the SOURCE's log too (one pure-info
        # commit — commutes with everything): vacuum reads these refs
        # and refuses to delete files a live clone still references
        # (the guard the public Delta caveat lacks; see :meth:`vacuum`).
        self._commit([], self.version,
                     info={"op": "clone_ref", "target": target,
                           "source_version": int(v)})
        return t

    @property
    def version(self) -> int:
        return latest_version(self._io)

    def schema(self) -> StructType:
        _, meta, _ = self._snapshot()
        return StructType.fromJson(meta["schema"])

    def live_files(self, version: int | None = None) -> list[str]:
        _, _, live = self._snapshot(version)
        return sorted(live)

    def history(self) -> list[list[dict]]:
        return [read_commit(self._io, i) for i in range(self.version + 1)]

    def describe_history(self) -> list[dict]:
        """Audit view of the commit log (the public Delta
        ``DESCRIBE HISTORY`` shape, newest first): one row per version
        with the recorded operation provenance and action tallies.
        Commits published before provenance was recorded (or repaired
        no-ops, which drop the dead writer's info) report op
        ``"unknown"``. Row-level operation metrics (the public Delta
        ``operationMetrics`` idea) come from the SAME walk: the fold
        tracks each path's recorded ``numRecords``, so ``rows_removed``
        prices a remove at what its add declared — no data is read.
        Driver-side log reads only — O(version)."""
        out = []
        nrec: dict[str, int] = {}  # path -> numRecords, folded forward
        for v in range(self.version + 1):
            actions = read_commit(self._io, v)
            info = next((a["info"] for a in actions if "info" in a), {})
            rows_added = rows_removed = rows_tombstoned = 0
            for a in actions:
                if "add" in a:
                    n = int(a["add"].get("numRecords") or 0)
                    nrec[a["add"]["path"]] = n
                    if a["add"].get("dataChange", True):
                        rows_added += n
                elif "remove" in a:
                    n = nrec.get(a["remove"]["path"], 0)
                    if a["remove"].get("dataChange", True):
                        rows_removed += n
                elif "dv" in a:
                    rows_tombstoned += len(a["dv"].get("keys") or ())
            out.append({
                "version": v,
                "operation": info.get("op", "unknown"),
                "timestamp": info.get("ts"),
                "n_adds": sum(1 for a in actions if "add" in a),
                "n_removes": sum(1 for a in actions if "remove" in a),
                "rows_added": rows_added,
                "rows_removed": rows_removed,
                "rows_tombstoned": rows_tombstoned,
                "info": info,
            })
        return out[::-1]

    def detail(self) -> dict:
        """Table summary (the public Delta ``DESCRIBE DETAIL`` shape):
        current version, live file count, row count from the log's
        recorded ``numRecords`` (no data scan — the log is the source
        of truth the audits verify), declared stat/bloom/constraint
        surface, and checkpoint state. Driver-side log fold only."""
        v, meta, live = self._snapshot()
        ckpts = self._checkpoint_versions()
        return {
            "path": self.path,
            "version": v,
            "protocol": dict(getattr(self, "_proto", None)
                             or BASE_PROTOCOL),
            "num_files": len(live),
            # physical rows (the log's numRecords); tombstoned rows are
            # still on disk until OPTIMIZE materializes them away
            "num_rows": sum(a.get("numRecords", 0) for a in live.values()),
            "dv_files": sum(1 for a in live.values() if a.get("dv")),
            "dv_tombstones": sum(len(a["dv"]["keys"])
                                 for a in live.values() if a.get("dv")),
            "schema_fields": [f["name"]
                              for f in meta["schema"].get("fields", [])],
            "partition_cols": meta.get("partition_cols", []),
            "stat_cols": meta.get("stat_cols", []),
            "bloom": meta.get("bloom"),
            "constraints": dict(meta.get("constraints") or {}),
            "column_mapping": (dict(meta["column_mapping"])
                               if meta.get("column_mapping") else None),
            "generated": dict(meta.get("generated") or {}) or None,
            "identity": ({c: dict(s) for c, s in meta["identity"].items()}
                         if meta.get("identity") else None),
            "properties": dict(meta.get("properties") or {}) or None,
            "checkpoints": ckpts,
        }

    def add_constraint(self, name: str, expr: str) -> int:
        """Add a CHECK constraint (the public Delta
        ``ADD CONSTRAINT ... CHECK`` semantics): SQL ``expr`` must not
        evaluate to FALSE for any row — NULL passes, matching the SQL
        standard. Existing data is validated first (one scan); every
        later write validates inside its staging stats pass at zero
        extra job cost. Conflicts with ANY intervening data commit
        (rows this validation never saw) — re-run on the fresh
        snapshot."""
        rv, meta, _ = self._snapshot()
        cons = dict(meta.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists "
                             f"({cons[name]})")
        snap = self.read(version=rv)
        n_bad = snap.filter(
            ~F.coalesce(F.expr(expr), F.lit(True))).limit(1).count()
        if n_bad:
            raise ValueError(
                f"cannot add constraint {name!r}: existing rows of "
                f"{self.path} violate ({expr})")
        cons[name] = expr
        new_meta = dict(meta)
        new_meta["constraints"] = cons

        def no_data_race(intervening):
            if any(("add" in a and a["add"].get("dataChange", True))
                   or "remove" in a for a in intervening):
                raise TxConflict(
                    f"data changed under add_constraint({name!r}) on "
                    f"{self.path}; re-run to validate the new rows")
        return self._commit([{"meta": new_meta}], rv,
                            validate=no_data_race,
                            info={"op": "add_constraint", "name": name})

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (meta-only commit)."""
        rv, meta, _ = self._snapshot()
        cons = dict(meta.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint {name!r} on {self.path}")
        del cons[name]
        new_meta = dict(meta)
        new_meta["constraints"] = cons
        return self._commit([{"meta": new_meta}], rv,
                            info={"op": "drop_constraint", "name": name})

    # ------------------------------------- write-side features (writer 5)
    # Generated columns, identity columns, and table properties — the
    # public Delta writer-feature trio. All three are WRITE invariants:
    # data files stay plain (minReader unchanged), but a pre-feature
    # writer would silently break them, so first use gates minWriter 5
    # (txproto.WRITE_FEATURES_PROTOCOL).

    def _write_constraints(self, meta: dict) -> dict | None:
        """The CHECK set every staged file validates against: the
        user's constraints plus one implicit equality per GENERATED
        column (the public Delta rule — a provided value must satisfy
        ``col <=> generation expr``; ``IS NOT DISTINCT FROM`` is the
        ANSI spelling both Spark and the DuckDB oracle parse). Riding
        the existing constraint machinery means generation is enforced
        on EVERY write path — including rows a caller supplied
        explicitly — at zero extra job cost (the stats pass counts the
        violations)."""
        cons = dict(meta.get("constraints") or {})
        for c, expr in (meta.get("generated") or {}).items():
            cons[f"generated:{c}"] = (
                f"{c} IS NOT DISTINCT FROM ({expr})")
        return cons or None

    def _apply_generated(self, df: DataFrame, meta: dict) -> DataFrame:
        """Compute every GENERATED column the batch did not provide
        (provided values are validated by the implicit constraint in
        :meth:`_write_constraints` instead — never silently
        overwritten)."""
        gen = meta.get("generated") or {}
        if not gen:
            return df
        schema = StructType.fromJson(meta["schema"])
        dtypes = {f.name: f.dataType for f in schema.fields}
        for c, expr in gen.items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(expr).cast(dtypes[c]))
        return df

    @staticmethod
    def _generated_refs(meta: dict, col: str) -> list[str]:
        """Generated columns whose expression mentions ``col`` (same
        conservative word-boundary rule as :meth:`_constraint_refs`)."""
        import re as _re
        pat = _re.compile(rf"\b{_re.escape(col)}\b")
        gen = meta.get("generated") or {}
        return sorted(g for g, expr in gen.items()
                      if g == col or pat.search(expr))

    def _require_mutable(self, meta: dict, op: str) -> None:
        """The ``appendOnly`` table property (public Delta
        ``delta.appendOnly``): data-changing rewrites refuse; appends,
        insert-only merges, and layout-only OPTIMIZE stay allowed."""
        props = meta.get("properties") or {}
        if str(props.get("appendOnly", "")).lower() in ("true", "1"):
            raise ValueError(
                f"{op} on append-only table {self.path} "
                f"(properties['appendOnly']=true; alter_properties("
                f"unset=['appendOnly']) to re-enable rewrites)")

    def _refuse_identity_dml(self, meta: dict, op: str) -> None:
        if meta.get("identity"):
            raise ValueError(
                f"{op} on identity table {self.path}: identity values "
                f"are engine-assigned and this operation supplies "
                f"whole-partition row sets (use merge_upsert — matched "
                f"rows keep their ids, inserts allocate)")

    def _extend_generated_bounds(self, meta: dict, keys: list,
                                 bounds: dict) -> tuple[list, dict]:
        """Derive partition-pruning bounds on GENERATED partition
        columns from the batch's bounds on their BASE columns (the
        public Delta "partition pruning using generated columns"
        design; ``genexpr`` holds the monotone shape registry). Only
        PARTITION columns derive: partitionValues share the transforms'
        value domain exactly (ints / hive path strings), so the
        comparison needs no casts. Strict bounds weaken to inclusive —
        one-sided, never skips a possible match."""
        gen = meta.get("generated") or {}
        pcols = set(meta.get("partition_cols") or ())
        if not gen or not pcols:
            return keys, bounds
        keys2, bounds2 = list(keys), dict(bounds)
        for g, expr in gen.items():
            if g not in pcols or g in bounds2:
                continue
            t = parse_generation_expr(expr)
            if t is None or t.base_col not in bounds2:
                continue
            lo, hi = bounds2[t.base_col]
            if lo is None or hi is None:
                continue
            dlo, dhi = t.fn(lo), t.fn(hi)
            if dlo is None or dhi is None:
                continue
            if not t.monotone:
                # Calendar fields derive only when [lo, hi] lies inside
                # ONE enclosing unit: month(lo)==month(hi) alone admits
                # a window like 2023-03-05..2024-03-10 (both month 3)
                # and would prune partitions holding in-range base
                # values (ADVICE r14, high).
                enc = t.enclosing
                elo = enc(lo) if enc is not None else None
                if elo is None or elo != enc(hi):
                    continue
            keys2.append(g)
            bounds2[g] = (dlo, dhi)
        return keys2, bounds2

    #: Per-partition identity allocation block: ids assign as
    #: ``next + step * (partition_id * BLOCK + row_index)`` in ONE
    #: distributed pass (no count pre-job, no driver round-trip); a
    #: partition holding more than BLOCK rows fails loudly in the
    #: worker (repartition the batch). Gaps between partitions are
    #: allowed — the public Delta identity contract guarantees unique,
    #: step-directed values, not density.
    _IDENTITY_BLOCK = 1 << 21

    def _assign_identity(self, df: DataFrame, meta: dict) -> DataFrame:
        """Allocate identity values for every identity column (all of
        which the batch must OMIT — ``GENERATED ALWAYS``, providing a
        value is an error). Single Spark pass via ``mapInPandas``."""
        ident = meta.get("identity") or {}
        if not ident:
            return df
        provided = sorted(set(ident) & set(df.columns))
        if provided:
            raise ValueError(
                f"column(s) {provided} of {self.path} are GENERATED "
                f"ALWAYS AS IDENTITY: values are engine-assigned and "
                f"cannot be provided")
        from pyspark.sql.types import LongType
        block = self._IDENTITY_BLOCK
        specs = {}
        for c, s in ident.items():
            step = int(s["step"])
            hwm = s.get("hwm")
            specs[c] = (int(s["start"]) if hwm is None
                        else int(hwm) + step, step)
        out = StructType(list(df.schema.fields)
                         + [StructField(c, LongType(), False)
                            for c in sorted(ident)])

        def assign(it):
            import numpy as np
            local = 0
            for pdf in it:
                n = len(pdf)
                if n:
                    pid = int(pdf["_pid"].iloc[0])
                    if local + n > block:
                        raise ValueError(
                            f"identity allocation overflow: a partition "
                            f"holds more than {block} rows; repartition "
                            f"the batch before append")
                    idx = np.arange(local, local + n, dtype="int64")
                    for c, (nxt, step) in specs.items():
                        pdf[c] = nxt + step * (pid * block + idx)
                    local += n
                yield pdf.drop(columns=["_pid"])

        return (df.withColumn("_pid", F.spark_partition_id())
                .mapInPandas(assign, schema=out))

    def _identity_meta(self, meta: dict, adds: list[dict]) -> dict | None:
        """Advance each identity column's high-water mark to the
        extreme value actually staged — read off the add actions' own
        stats (identity columns are forced into ``stat_cols`` at
        create), so the bump costs zero extra jobs. None = nothing
        staged / nothing moved (no meta churn)."""
        ident = meta.get("identity") or {}
        if not ident or not adds:
            return None
        cm = meta.get("column_mapping") or {}
        new = {c: dict(s) for c, s in ident.items()}
        changed = False
        for c, s in new.items():
            step = int(s["step"])
            pc = cm.get(c, c)
            vals = [a["add"]["stats"][pc][1 if step > 0 else 0]
                    for a in adds
                    if "add" in a and pc in (a["add"].get("stats") or {})]
            vals = [v for v in vals if v is not None]
            if not vals:
                continue
            ext = int(max(vals) if step > 0 else min(vals))
            hwm = s.get("hwm")
            if (hwm is None or (step > 0 and ext > int(hwm))
                    or (step < 0 and ext < int(hwm))):
                s["hwm"] = ext
                changed = True
        if not changed:
            return None
        m2 = dict(meta)
        m2["identity"] = new
        return m2

    def alter_properties(self, set_props: dict | None = None,
                         unset: Sequence[str] = ()) -> int:
        """Set / unset table properties (one meta commit — the public
        Delta ``ALTER TABLE SET TBLPROPERTIES`` shape). Recognized:

        - ``appendOnly`` (bool): data-changing rewrites refuse
          (:meth:`_require_mutable`); setting it upgrades the protocol
          to writer 5 in the same atomic commit.
        - ``checkpointInterval`` (int ≥ 1): overrides the class-level
          auto-checkpoint cadence for this table.
        - ``autoCompact`` (bool, with ``autoCompactMinFiles`` /
          ``autoCompactTargetRows``): after a row-staging commit, if
          the live small-file count reaches the threshold, OPTIMIZE
          runs best-effort in the same writer (the public Delta
          auto-compaction design) — streaming ingest stops accreting
          unbounded micro-batch files without an external compactor.

        Unrecognized keys are stored verbatim (user metadata), matching
        Delta's open property namespace."""
        rv, meta, _ = self._snapshot()
        props = dict(meta.get("properties") or {})
        for k in unset:
            props.pop(k, None)
        for k, v in (set_props or {}).items():
            if k == "checkpointInterval" and int(v) < 1:
                raise ValueError("checkpointInterval must be >= 1")
            props[k] = v
        new_meta = dict(meta)
        new_meta["properties"] = props
        actions: list[dict] = []
        if (str(props.get("appendOnly", "")).lower() in ("true", "1")
                and needs_upgrade(getattr(self, "_proto", None),
                                  WRITE_FEATURES_PROTOCOL)):
            actions.append(protocol_action(merged_protocol(
                getattr(self, "_proto", None), WRITE_FEATURES_PROTOCOL)))
        actions.append({"meta": new_meta})

        def no_meta_race(intervening):
            if any("meta" in a for a in intervening):
                raise TxConflict(
                    f"concurrent metadata change on {self.path}; re-run "
                    f"alter_properties on the new snapshot")
        return self._commit(actions, rv, validate=no_meta_race,
                            info={"op": "alter_properties"})

    # -------------------------------------------------------- column mapping
    # The public Delta columnMapping ('name' mode) design: data files
    # and every per-file log artifact (stats, nullCounts, bloom, dv
    # keyCols) are keyed by STABLE physical column names; the logical
    # schema maps onto them through meta["column_mapping"]. RENAME and
    # DROP then become pure metadata commits — zero data rewritten at
    # any table size — while time travel reads each version under the
    # names IT declared (the mapping is part of that version's meta).
    # First use upgrades the protocol to reader/writer 4: a pre-mapping
    # client reading physical file names as logical would silently miss
    # the rename, so it must refuse instead.

    @staticmethod
    def _constraint_refs(meta: dict, col: str) -> list[str]:
        """Names of CHECK constraints whose expression mentions ``col``
        (conservative word-boundary match — refusing a rename on a
        false positive is safe; missing a true reference is not)."""
        import re as _re
        pat = _re.compile(rf"\b{_re.escape(col)}\b")
        return sorted(n for n, expr in
                      (meta.get("constraints") or {}).items()
                      if pat.search(expr))

    def _mapping_guard(self, meta: dict, col: str, op: str) -> dict:
        """Shared refusals for rename/drop + the (possibly fresh)
        mapping dict. Partition columns are structural (their names
        live in every data file PATH and in partitionValues — renaming
        them would need a full-lake rewrite, exactly what column
        mapping exists to avoid), and constraint expressions are stored
        SQL text over logical names, so Delta refuses both; so do we."""
        fields = {f["name"] for f in meta["schema"]["fields"]}
        if col not in fields:
            raise ValueError(f"{self.path} has no column {col!r}; "
                             f"schema: {sorted(fields)}")
        if col in (meta.get("partition_cols") or []):
            raise ValueError(
                f"cannot {op} partition column {col!r} of {self.path}: "
                f"partition columns are encoded in data file paths and "
                f"partitionValues (rewrite the table to change them)")
        refs = self._constraint_refs(meta, col)
        if refs:
            raise ValueError(
                f"cannot {op} column {col!r} of {self.path}: CHECK "
                f"constraint(s) {refs} reference it (drop them first)")
        grefs = self._generated_refs(meta, col)
        if grefs:
            raise ValueError(
                f"cannot {op} column {col!r} of {self.path}: generated "
                f"column expression(s) {grefs} are stored SQL text over "
                f"logical names (the Delta columnMapping×generated "
                f"restriction)")
        if col in (meta.get("identity") or {}):
            raise ValueError(
                f"cannot {op} identity column {col!r} of {self.path}: "
                f"its high-water mark is keyed by name in the table "
                f"metadata")
        # existing mapping, or a fresh identity mapping (enable-on-
        # first-use: physical names freeze at their current values, so
        # every already-written file/stat/bloom key stays correct)
        return dict(meta.get("column_mapping")
                    or {f["name"]: f["name"]
                        for f in meta["schema"]["fields"]})

    def _commit_mapping_meta(self, new_meta: dict, rv: int,
                             info: dict) -> int:
        """Publish a column-mapping meta commit, upgrading the protocol
        in the SAME atomic commit on first use. Conflicts with any
        intervening meta action (two schema changes must not silently
        drop each other); intervening DATA commits commute — they
        staged files under the old physical names, which a rename/drop
        never touches."""
        from .txproto import merged_protocol, needs_upgrade
        actions: list[dict] = []
        cur_proto = getattr(self, "_proto", None)
        if needs_upgrade(cur_proto, COLMAP_PROTOCOL):
            actions.append(protocol_action(
                merged_protocol(cur_proto, COLMAP_PROTOCOL)))
        actions.append({"meta": new_meta})

        def no_meta_race(intervening):
            if any("meta" in a for a in intervening):
                raise TxConflict(
                    f"concurrent schema change on {self.path}; re-run "
                    f"so both changes survive")
        return self._commit(actions, rv, validate=no_meta_race,
                            info=info)

    def enable_column_mapping(self) -> int:
        """Switch the table to column-mapping mode explicitly (renames/
        drops also enable it on first use). Idempotent. Physical names
        freeze at the CURRENT logical names, so nothing on disk or in
        the log changes meaning; the table's declared protocol rises to
        reader/writer 4 in the same commit."""
        rv, meta, _ = self._snapshot()
        if meta.get("column_mapping"):
            return self.version
        new_meta = dict(meta)
        new_meta["column_mapping"] = {f["name"]: f["name"]
                                      for f in meta["schema"]["fields"]}
        return self._commit_mapping_meta(
            new_meta, rv, {"op": "enable_column_mapping"})

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN — one metadata commit, zero data rewritten
        (the public Delta ``ALTER TABLE ... RENAME COLUMN`` under
        columnMapping). The column keeps its physical id, so every
        existing file, stat range, bloom bitset and deletion vector
        keeps pruning exactly as before; snapshot reads, keyed DML and
        CDC all speak the new name from this version on, while time
        travel to earlier versions still answers under the old name."""
        rv, meta, _ = self._snapshot()
        cm = self._mapping_guard(meta, old, "rename")
        fields = {f["name"] for f in meta["schema"]["fields"]}
        if new in fields:
            raise ValueError(f"cannot rename {old!r} to {new!r} on "
                             f"{self.path}: column {new!r} already "
                             f"exists")
        if not new or not isinstance(new, str):
            raise ValueError(f"invalid column name {new!r}")
        cm[new] = cm.pop(old)
        new_meta = dict(meta)
        new_meta["column_mapping"] = cm
        new_meta["schema"] = {
            **meta["schema"],
            "fields": [({**f, "name": new} if f["name"] == old else f)
                       for f in meta["schema"]["fields"]]}
        new_meta["stat_cols"] = [new if c == old else c
                                 for c in meta.get("stat_cols", [])]
        if meta.get("bloom"):
            new_meta["bloom"] = {
                **meta["bloom"],
                "cols": [new if c == old else c
                         for c in meta["bloom"]["cols"]]}
        return self._commit_mapping_meta(
            new_meta, rv, {"op": "rename_column", "from": old, "to": new})

    def drop_column(self, name: str) -> int:
        """DROP COLUMN — one metadata commit, zero data rewritten (the
        public Delta ``ALTER TABLE ... DROP COLUMN`` under
        columnMapping). The physical column stays in existing files but
        is invisible to every read from this version on; its stats and
        bloom entries stop participating in pruning; time travel to
        earlier versions still reads it. A later re-added column with
        the same logical name gets a FRESH physical id, so it can never
        resurrect the dropped column's values. Refused when the column
        keys a live deletion vector (drop would orphan the tombstones —
        OPTIMIZE first to materialize them away)."""
        rv, meta, live = self._snapshot()
        cm = self._mapping_guard(meta, name, "drop")
        if len(meta["schema"]["fields"]) == 1:
            raise ValueError(f"cannot drop the only column of "
                             f"{self.path}")
        dv_files = sorted(p for p, a in live.items()
                          if a.get("dv") and name in a["dv"]["keyCols"])
        if dv_files:
            raise ValueError(
                f"cannot drop column {name!r} of {self.path}: live "
                f"deletion vectors on {dv_files} are keyed by it "
                f"(OPTIMIZE first to materialize the tombstones away)")
        cm.pop(name)
        new_meta = dict(meta)
        new_meta["column_mapping"] = cm
        new_meta["schema"] = {
            **meta["schema"],
            "fields": [f for f in meta["schema"]["fields"]
                       if f["name"] != name]}
        new_meta["stat_cols"] = [c for c in meta.get("stat_cols", [])
                                 if c != name]
        if meta.get("bloom"):
            cols = [c for c in meta["bloom"]["cols"] if c != name]
            new_meta["bloom"] = ({**meta["bloom"], "cols": cols}
                                 if cols else None)
        return self._commit_mapping_meta(
            new_meta, rv, {"op": "drop_column", "name": name})

    def _commit_ts(self, version: int) -> float | None:
        """The version's recorded in-commit timestamp (provenance
        ``ts``), None for pre-provenance or repaired commits."""
        return txproto.commit_ts(self._io, version)

    def version_at(self, timestamp: float) -> int:
        """Resolve ``timestampAsOf``-style time travel: the latest
        version whose commit timestamp is at-or-before the given unix
        timestamp (``txproto.version_at``: commit-file mtimes, or the
        recorded in-commit timestamps once the ``inCommitTimestamps``
        property is on — publish re-stamps them strictly above the
        parent's, see :meth:`_commit`). Raises if the table's first
        commit is later than the timestamp."""
        return txproto.version_at(self._io, timestamp)

    def _abs(self, p: str) -> str:
        """A live-set path → a readable location. Paths are normally
        RELATIVE to the table root; shallow clones (:meth:`clone`)
        reference the source's files by ABSOLUTE path, which passes
        through untouched."""
        return p if p.startswith("/") or "://" in p else f"{self.path}/{p}"

    @staticmethod
    def _path_resolver(paths: Sequence[str], n_partition_cols: int):
        """Map a scanned ``_file`` value (the last depth components of
        ``input_file_name``, URI-escaped) back to the LIVE-SET path it
        came from. Identity for ordinary relative paths; for shallow
        clones it restores the stored absolute path. Ambiguity (two
        scanned files sharing the depth-suffix) is refused loudly — a
        wrong resolution would remove the wrong file."""
        depth = n_partition_cols + 1
        m: dict[str, str] = {}
        for path in paths:
            suffix = "/".join(path.split("/")[-depth:])
            if m.get(suffix, path) != path:
                raise ValueError(
                    f"scanned files {m[suffix]!r} and {path!r} share the "
                    f"path suffix {suffix!r}; planners cannot attribute "
                    f"probe hits unambiguously — OPTIMIZE the table to "
                    f"rewrite one of them locally")
            m[suffix] = path

        def resolve(escaped: str) -> str:
            return m[_unq(escaped)]
        return resolve

    @staticmethod
    def _file_expr(n_partition_cols: int):
        """Column expression for a scanned row's RELATIVE file path: the
        last ``n_partition_cols + 1`` components of ``input_file_name()``
        (every live file of a table sits at that uniform depth — flat
        tables at 1, hive layouts at ``len(partition_cols) + 1``).
        Values are URI-escaped exactly as ``input_file_name`` renders
        them; driver-side consumers decode with :func:`_unq` before
        matching log paths."""
        depth = n_partition_cols + 1
        parts = F.split(F.input_file_name(), "/")
        return F.concat_ws("/", F.slice(parts, -depth, depth))

    def _scan_files(self, meta: dict, paths: Sequence[str],
                    with_file: bool = False,
                    dvs: dict | None = None) -> DataFrame:
        """ONE scan of the given data files under the declared schema —
        the read primitive every snapshot read and DML planner uses.

        Partitioned tables (``meta['partition_cols']``): data files live
        under ``key=value/`` subpaths and do NOT contain the partition
        columns; the scan passes ``basePath`` so Spark materializes them
        from the paths (typed by the declared schema), then restores the
        declared column order (Spark appends partition columns last).

        ``with_file=True`` adds a ``_file`` column holding the file's
        RELATIVE path (URI-escaped; see :meth:`_file_expr`) — planners
        collect it, decode with :func:`_unq`, and feed the result
        straight back as remove/rewrite paths.

        ``dvs`` (``{path: dv-dict}`` from :meth:`_live_dvs`) applies
        deletion vectors merge-on-read: each tombstoned file scans
        individually (same total IO — each scan reads exactly one file)
        and anti-joins its broadcast key set, so every read and DML
        planner sees only VISIBLE rows. Plan size grows with the count
        of live tombstoned files, which :meth:`optimize` keeps bounded
        by materializing DVs away."""
        schema = StructType.fromJson(meta["schema"])
        cols = [f.name for f in schema.fields]
        pcols = meta.get("partition_cols") or []
        cm = meta.get("column_mapping")
        if cm:
            # column-mapped: files store PHYSICAL names; scan with the
            # physical twin of the declared schema, alias back to
            # logical right after (a pure projection — free under
            # whole-stage codegen, and column pruning pushes through it)
            read_schema = StructType([
                StructField(cm.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields])
        else:
            read_schema = schema

        def root_of(p: str) -> str:
            # partition materialization needs a basePath ANCESTOR of
            # every scanned file; relative paths root at the table,
            # shallow-cloned absolute paths at THEIR source root (the
            # path minus its key=value/file suffix)
            if not (p.startswith("/") or "://" in p):
                return self.path
            return "/".join(p.split("/")[:-(len(pcols) + 1)])

        def scan(ps: Sequence[str]) -> DataFrame:
            frames = []
            if pcols:
                by_root: dict[str, list[str]] = {}
                for p in sorted(ps):
                    by_root.setdefault(root_of(p), []).append(p)
                groups = [(self.spark.read.schema(read_schema)
                           .option("basePath", root), grp)
                          for root, grp in sorted(by_root.items())]
            else:
                groups = [(self.spark.read.schema(read_schema),
                           sorted(ps))]
            for reader, grp in groups:
                df = reader.parquet(*[self._abs(p) for p in grp])
                if with_file:
                    df = df.withColumn("_file",
                                       self._file_expr(len(pcols)))
                if cm:
                    df = df.select(
                        *[F.col(cm.get(f.name, f.name)).alias(f.name)
                          for f in schema.fields],
                        *(["_file"] if with_file else []))
                frames.append(df)
            out = frames[0]
            for fr in frames[1:]:
                out = out.unionByName(fr)
            return out
        if with_file:
            cols = cols + ["_file"]
        dvs = {p: d for p, d in (dvs or {}).items() if p in set(paths)}
        if not dvs:
            return scan(paths).select(*cols)
        clean = [p for p in paths if p not in dvs]
        frames = [scan(clean)] if clean else []
        for p in sorted(dvs):
            frames.append(self._dv_apply(scan([p]), schema, dvs[p]))
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out.select(*cols)

    #: Tombstone count up to which a file's deletion vector applies as
    #: a LITERAL anti-predicate instead of a broadcast anti-join: the
    #: predicate compiles into the scan's whole-stage codegen (and the
    #: single-key form pushes into parquet row groups) with no join
    #: stage and no RDD-backed probe job — the common point-delete
    #: shape. Bigger vectors keep the broadcast anti-join (a literal
    #: IN over tens of thousands of values bloats the plan).
    _DV_LITERAL_MAX = 1024

    def _dv_apply(self, df: DataFrame, schema: StructType,
                  dv: dict) -> DataFrame:
        """Drop one file's tombstoned keys merge-on-read. Anti-join
        semantics exactly: a row whose key component is NULL never
        matches a tombstone and is KEPT (hence the coalesce — ``isin``
        over a NULL key yields NULL, which a bare NOT-filter would
        drop)."""
        kc = list(dv["keyCols"])
        keys = dv["keys"]
        if len(keys) > self._DV_LITERAL_MAX:
            return df.join(F.broadcast(self._dv_probe(schema, dv)),
                           on=kc, how="left_anti")
        if len(kc) == 1:
            hit = F.col(kc[0]).isin([k[0] for k in keys])
        else:
            import functools
            import operator
            hit = functools.reduce(operator.or_, [
                functools.reduce(operator.and_,
                                 [F.col(c) == F.lit(v)
                                  for c, v in zip(kc, k)])
                for k in keys])
        return df.filter(~F.coalesce(hit, F.lit(False)))

    def _dv_probe(self, schema: StructType, dv: dict) -> DataFrame:
        """The (small, driver-held) key frame of one file's deletion
        vector, typed from the table schema."""
        fields = {f.name: f for f in schema.fields}
        probe_schema = StructType([fields[c] for c in dv["keyCols"]])
        return self.spark.createDataFrame(
            [tuple(k) for k in dv["keys"]], probe_schema)

    @staticmethod
    def _live_dvs(live: dict[str, dict]) -> dict[str, dict]:
        """{path: dv} for the snapshot's tombstoned files (empty when
        the deletion-vector feature is unused — zero overhead)."""
        return {p: a["dv"] for p, a in live.items() if a.get("dv")}

    def _list_data_files(self) -> list[tuple[str, int]]:
        """All ``.parquet`` files under the table root (recursive, so
        hive-partitioned layouts are covered), as
        ``(relative_path, mtime_ms)`` — skipping the log dir and
        in-flight staging dirs. Listing-cost only."""
        fs = _fs(self.spark, self.path)
        out: list[tuple[str, int]] = []

        def walk(prefix: str) -> None:
            base = f"{self.path}/{prefix}".rstrip("/")
            for st in fs.listStatus(_jpath(self.spark, base)):
                name = st.getPath().getName()
                rel = f"{prefix}{name}"
                if st.isDirectory():
                    if name == LOG_DIR or name.startswith("_staged_"):
                        continue
                    walk(rel + "/")
                elif name.endswith(".parquet"):
                    out.append((rel, st.getModificationTime()))
        walk("")
        return out

    def read(self, version: int | None = None,
             timestamp: float | None = None,
             partition_values: dict | None = None) -> DataFrame:
        """Snapshot read (time travel when ``version`` or a unix
        ``timestamp`` is given; version wins if both).

        ``partition_values={col: value}`` prunes the live set LOG-SIDE
        before any task is planned: only files whose recorded
        ``partitionValues`` match every given column are scanned —
        ``df.inputFiles()`` shows exactly those. (Catalyst additionally
        partition-prunes ``filter`` predicates on partition columns at
        plan time via the basePath-derived partition columns; this
        parameter makes the pruning explicit and assertable.)"""
        if version is None and timestamp is not None:
            version = self.version_at(timestamp)
        _, meta, live = self._snapshot(version)
        schema = StructType.fromJson(meta["schema"])
        if partition_values:
            partition_values = _typed_partition_values(
                partition_values, meta, self.path)
            live = {p: a for p, a in live.items()
                    if all((a.get("partitionValues") or {}).get(c) == v
                           for c, v in partition_values.items())}
        if not live:
            return self.spark.createDataFrame([], schema)
        return self._scan_files(meta, sorted(live),
                                dvs=self._live_dvs(live))

    def read_keys(self, keys_df: DataFrame, keys: Sequence[str],
                  version: int | None = None) -> DataFrame:
        """Stat-pruned keyed snapshot probe — the READ-side sibling of
        the merge/delete planners: return the snapshot's rows whose
        ``keys`` tuple appears in ``keys_df``. One driver-sized stat
        prune over the log picks the candidate files, then one scan of
        only those files — cost ∝ files whose stat ranges overlap the
        probe's key bounds, never table size. This is what makes
        incremental view maintenance folds (e.g. the CDC-maintained
        weather star, plans/star_lakehouse.py) touch state ∝ the
        increment's keys.

        ``keys_df`` may also be a LIST of key tuples/dicts (≤ 1024 —
        the point-lookup shape): the probe then never touches Spark at
        all, and the match applies as a literal IN-predicate pushed
        into the pruned scan — exactly one Spark job end to end."""
        keys = list(keys)
        v, meta, live = self._snapshot(version)
        schema = StructType.fromJson(meta["schema"])
        key_schema = StructType([f for f in schema.fields
                                 if f.name in keys])
        unknown = sorted(set(keys) - {f.name for f in schema.fields})
        if unknown:
            raise ValueError(
                f"read_keys on {self.path}: key column(s) {unknown} "
                f"not in schema {[f.name for f in schema.fields]}")
        if isinstance(keys_df, (list, tuple)):
            # literal probe (the Delta point-lookup shape, ``WHERE key
            # IN (...)``): rows are (k1, k2, ...) tuples or dicts held
            # driver-side — ZERO probe-side Spark jobs (PySpark local
            # frames are RDD-backed, so even a 9-row probe collect is
            # a full scheduled job otherwise); the whole chain is log
            # fold → stat+bloom prune → one filtered scan.
            lits = [r if isinstance(r, dict) else dict(zip(keys, r))
                    for r in keys_df]
            if len(lits) > self._BLOOM_PROBE_MAX:
                raise ValueError(
                    f"literal probe holds {len(lits)} rows (cap "
                    f"{self._BLOOM_PROBE_MAX}); pass a DataFrame for "
                    f"bulk probes")
            # Coercions must match the DataFrame path's cast-to-key-
            # schema semantics (ADVICE r14, low): a FloatType key probed
            # with 5.1 must compare as float32 (plain float64 matches
            # neither the stored stats, the bloom bits, nor the rows),
            # and bool("false") is True — parse strings.
            def _f32(v):
                import struct as _s
                return _s.unpack("<f", _s.pack("<f", float(v)))[0]

            def _bool(v):
                if isinstance(v, str):
                    s = v.strip().lower()
                    if s in ("true", "t", "1", "yes", "y"):
                        return True
                    if s in ("false", "f", "0", "no", "n"):
                        return False
                    raise ValueError(f"not a boolean literal: {v!r}")
                return bool(v)
            coerce = {"byte": int, "short": int, "integer": int,
                      "long": int, "float": _f32, "double": float,
                      "string": str, "boolean": _bool}
            casts = {f.name: coerce.get(f.dataType.typeName())
                     for f in key_schema.fields}
            rows = [{k: (casts[k](r[k])
                         if casts.get(k) and r[k] is not None else r[k])
                     for k in keys} for r in lits]
            probe = None
        else:
            cast = keys_df.select(*[F.col(f.name).cast(f.dataType)
                                    for f in key_schema.fields])
            # Point-lookup fast path: ONE bounded collect supplies the
            # emptiness check, the stat bounds, AND the bloom bit
            # tests — the probe chain is latency-bound, so every saved
            # driver-synchronous job shows up directly in lookup time.
            # The collect deliberately runs BEFORE any dropDuplicates
            # (which would shuffle 32 ways for a KB of rows); a probe
            # whose ROW count saturates the cap retries once at
            # distinct grain (big-but-duplicated feeds) before falling
            # back to the bulk regime (scalar-agg bounds, range-only
            # pruning, semi-join).
            rows = cast.limit(self._BLOOM_PROBE_MAX + 1).collect()
            if len(rows) > self._BLOOM_PROBE_MAX:
                probe = cast.dropDuplicates(keys)
                rows = probe.limit(self._BLOOM_PROBE_MAX + 1).collect()
            else:
                probe = None
        if probe is None:
            rows = list({tuple(r[k] for k in keys): r
                         for r in rows}.values())
        if not live or not rows:
            return self.spark.createDataFrame([], schema)
        if len(rows) <= self._BLOOM_PROBE_MAX:
            bounds = {k: (stat_scalar(min((r[k] for r in rows
                                            if r[k] is not None),
                                           default=None)),
                          stat_scalar(max((r[k] for r in rows
                                            if r[k] is not None),
                                           default=None)))
                      for k in keys}
            probe_rows = rows
        else:
            _n, bounds = self._batch_bounds(probe, keys)
            probe_rows = None  # bulk regime: bloom pruning opts out
        pkeys, pbounds = self._extend_generated_bounds(meta, keys, bounds)
        cand = self._candidate_files(live, pkeys, pbounds)
        # in the point regime probe_rows short-circuits the bloom
        # probe's own collect, so the DataFrame arg is never touched
        cand = self._bloom_candidates(cand, live, keys, probe, meta,
                                      probe_rows=probe_rows)
        if not cand:
            return self.spark.createDataFrame([], schema)
        scan = self._scan_files(meta, cand, dvs=self._live_dvs(live))
        if probe_rows is None:
            return scan.join(probe, on=keys, how="left_semi")
        # point regime: the probe is a collected literal set — an
        # IN-list / equality-disjunction FILTER replaces the semi-join
        # (no broadcast, no join stage, and the predicate pushes into
        # the parquet row-group scan). NULL key components can never
        # match a semi-join, so those probe rows drop here too.
        # Single-key probes compile to ONE InSet at any probe size;
        # composite keys cap the disjunction at 256 terms (a thousand-
        # conjunction OR-tree costs more to codegen than the broadcast
        # semi-join it replaces) and fall back to the join above it.
        valid = [r for r in rows
                 if all(r[k] is not None for k in keys)]
        if not valid:
            return self.spark.createDataFrame([], schema)
        # Literals cast to the key schema (ADVICE r14, low): foldable
        # cast(lit) constant-folds to a typed literal, so the predicate
        # still compiles to InSet / pushes into the parquet scan while
        # matching the DataFrame probe's cast semantics exactly.
        dts = {f.name: f.dataType for f in key_schema.fields}
        if len(keys) == 1:
            k = keys[0]
            pred = F.col(k).isin(
                *[F.lit(r[k]).cast(dts[k]) for r in valid])
        elif len(valid) <= 256:
            import functools
            import operator
            pred = functools.reduce(operator.or_, [
                functools.reduce(
                    operator.and_,
                    [F.col(k) == F.lit(r[k]).cast(dts[k]) for k in keys])
                for r in valid])
        else:
            probe = self.spark.createDataFrame(
                [tuple(r[f.name] for f in key_schema.fields)
                 for r in valid], key_schema)
            return scan.join(probe, on=keys, how="left_semi")
        return scan.filter(pred)

    def read_changes(self, from_version: int,
                     to_version: int | None = None) -> DataFrame:
        """Change-data-feed between snapshots — the public Delta CDF
        pattern at file grain: every row ADDED and REMOVED by the
        commits in ``(from_version, to_version]``, tagged with a
        ``_change_type`` column (``'insert'`` / ``'delete'``). The
        fold invariant (pytest-pinned, tests/test_txlog.py):

            read(from) ⊎ inserts ∖ deletes == read(to)   (as multisets)

        so a downstream consumer (incremental view maintenance, a
        sync into another store) can advance from one snapshot to any
        later one by reading ONLY the delta files — cost ∝ changed
        data, never table size. Copy-on-write merges surface as the
        replaced files' rows (deletes) plus the rewritten files' rows
        (inserts); a row carried unchanged through a rewrite appears
        on both sides and cancels under the multiset fold, which is
        exactly what makes the invariant hold without row-level
        tracking. A file both added AND removed inside the window is
        transient and excluded from both sides (its surviving rows
        reach the feed through the files that superseded it).

        Removed files must still exist on disk: change feeds reach
        only as far back as :meth:`vacuum`'s retention has preserved
        (same contract as Delta's CDF-vs-vacuum interaction).
        """
        latest = self.version
        to_v = latest if to_version is None else to_version
        if not 0 <= from_version <= to_v <= latest:
            raise ValueError(
                f"change window ({from_version}, {to_v}] out of range "
                f"0..{latest}")
        _, meta, _ = self._snapshot(to_v)
        schema = StructType.fromJson(meta["schema"])
        # the shared walk (txproto.walk_changes): dataChange=false swaps
        # are skipped — the fold invariant survives because a swap is
        # row-multiset-identical (even when a LATER data-changing commit
        # removes a packed file whose inputs predate the window, its
        # delete rows equal the skipped inputs' rows exactly); each file
        # is scanned under its own partition-layout era, projected to
        # the to-version logical schema; dv keys stay physical until
        # ldv() below translates them once
        adds: list[tuple] = []          # (era, path)
        removes: list[tuple] = []       # (era, path)
        partial_dels: list[tuple] = []  # (era, path, dv) w/ tombstones
        dv_dels: list[tuple] = []       # (era, path, dv) new tombstones
        for ch in walk_changes(self._io, from_version, to_v):
            if ch.kind == "add":
                adds.append((ch.era, ch.path))
            elif ch.kind == "remove":
                removes.append((ch.era, ch.path))
            else:
                (partial_dels if ch.kind == "partial" else dv_dels).append(
                    (ch.era, ch.path, ch.dv))
        # Net per path by MULTISET count, not set intersection: RESTORE
        # re-adds a previously removed path, so a window spanning
        # add(v1) -> delete(v2) -> restore-re-add(v3) has unbalanced
        # counts (2 adds, 1 remove) whose true net is ONE insert — a
        # set-based cancel would drop all occurrences and emit an empty
        # feed, breaking the fold invariant for any catch-up consumer
        # whose window spans a remove and its later re-add. (Removals of
        # tombstoned files are partial and never participate in path
        # netting — their rows are not the full file.)
        add_c, rem_c = Counter(adds), Counter(removes)
        adds = sorted((add_c - rem_c).elements())
        removes = sorted((rem_c - add_c).elements())
        # StructType.add MUTATES; copy first (schema is reused below for
        # the deletion-vector probe frames)
        out_schema = StructType(list(schema.fields)).add(
            "_change_type", "string")

        def era_meta(e: tuple) -> dict:
            # to-version meta with the era's partition layout: old-era
            # files scan under THEIR directory scheme, project to the
            # to-version logical schema
            return (meta if list(e) == (meta.get("partition_cols") or [])
                    else {**meta, "partition_cols": list(e)})

        frames = []
        for pairs, tag in ((adds, "insert"), (removes, "delete")):
            groups: dict[tuple, list[str]] = {}
            for e, p in pairs:          # multiset: dups kept
                groups.setdefault(e, []).append(p)
            for e, paths in sorted(groups.items()):
                frames.append(
                    self._scan_files(era_meta(e), paths)
                    .withColumn("_change_type", F.lit(tag)))
        inv = _colmap_inverse(meta) or {}

        def ldv(dv: dict) -> dict:  # physical→to-version logical keyCols
            return {"keyCols": [inv.get(c, c) for c in dv["keyCols"]],
                    "keys": dv["keys"]}
        for e, p, dv in partial_dels:
            frames.append(
                self._scan_files(era_meta(e), [p], dvs={p: ldv(dv)})
                .withColumn("_change_type", F.lit("delete")))
        for e, p, dv in dv_dels:
            dv = ldv(dv)
            frames.append(
                self._scan_files(era_meta(e), [p])
                .join(F.broadcast(self._dv_probe(schema, dv)),
                      on=list(dv["keyCols"]), how="left_semi")
                .select(*[f.name for f in schema.fields])
                .withColumn("_change_type", F.lit("delete")))
        if not frames:
            return self.spark.createDataFrame([], out_schema)
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def read_changes_per_commit(self, from_version: int,
                                to_version: int | None = None,
                                update_images_for: Sequence[str]
                                | None = None) -> DataFrame:
        """Per-commit change feed — the public Delta CDF row shape:
        every emitted row carries ``_change_type`` AND
        ``_commit_version``, and commits are NOT netted against each
        other (a row inserted in v2 and deleted in v5 appears twice,
        under its own version — what an audit/replication consumer
        that attributes changes to transactions needs). WITHIN each
        commit, carried rows cancel by full-row multiset (a
        copy-on-write rewrite emits only the rows that actually
        changed — Delta merges write exactly this CDC).

        ``update_images_for=[key cols]`` additionally pairs a key
        deleted AND inserted by the same commit into
        ``update_preimage`` / ``update_postimage`` rows (Delta's MERGE
        CDC tags); unpaired rows keep ``insert``/``delete``.

        Cost ∝ Σ per-commit changed rows (plan size ∝ commits in the
        window — a bulk catch-up consumer that only needs the net
        state should use :meth:`read_changes`, whose cross-commit
        multiset fold is cheaper). Same vacuum-retention contract as
        :meth:`read_changes`."""
        latest = self.version
        to_v = latest if to_version is None else to_version
        if not 0 <= from_version <= to_v <= latest:
            raise ValueError(
                f"change window ({from_version}, {to_v}] out of range "
                f"0..{latest}")
        _, meta, _ = self._snapshot(to_v)
        schema = StructType.fromJson(meta["schema"])
        cols = [f.name for f in schema.fields]
        out_schema = StructType(list(schema.fields)).add(
            "_change_type", "string").add("_commit_version", "long")
        inv = _colmap_inverse(meta) or {}

        def ldv(dv: dict) -> dict:
            return {"keyCols": [inv.get(c, c) for c in dv["keyCols"]],
                    "keys": dv["keys"]}

        def era_meta(e: tuple) -> dict:
            return (meta if list(e) == (meta.get("partition_cols") or [])
                    else {**meta, "partition_cols": list(e)})

        frames = []
        # the shared walk, grouped per commit (read_changes' event rules;
        # one commit's files share its partition-layout era)
        for i, changes in itertools.groupby(
                walk_changes(self._io, from_version, to_v),
                key=lambda ch: ch.version):
            changes = list(changes)
            adds_i = [ch.path for ch in changes if ch.kind == "add"]
            rem_plain = [ch.path for ch in changes if ch.kind == "remove"]
            rem_partial = [(ch.path, ch.dv) for ch in changes
                           if ch.kind == "partial"]
            dv_dels = [(ch.path, ch.dv) for ch in changes
                       if ch.kind == "dv"]
            m_i = era_meta(changes[-1].era)
            ins = (self._scan_files(m_i, sorted(adds_i)).select(*cols)
                   if adds_i else None)
            del_frames = []
            if rem_plain:
                del_frames.append(
                    self._scan_files(m_i, sorted(rem_plain))
                    .select(*cols))
            for p, dv in rem_partial:
                del_frames.append(self._scan_files(
                    m_i, [p], dvs={p: ldv(dv)}).select(*cols))
            for p, dv in dv_dels:
                dv = ldv(dv)
                del_frames.append(
                    self._scan_files(m_i, [p])
                    .join(F.broadcast(self._dv_probe(schema, dv)),
                          on=list(dv["keyCols"]), how="left_semi")
                    .select(*cols))
            dels = None
            for fr in del_frames:
                dels = fr if dels is None else dels.unionByName(fr)
            keys = list(update_images_for or ())
            if ins is not None and dels is not None:
                # In-commit cancel + image pairing in ONE pass (r15).
                # The previous exceptAll-both-ways + intersect + four
                # joins replicated each side's scan subtree ~6× (48
                # parquet scans / 33 Exchanges in the 2-commit gate
                # plan) and shuffled the same rows repeatedly. A signed
                # full-row aggregate yields BOTH net multisets at once
                # (exceptAll semantics by construction: max(n_ins −
                # n_del, 0) surviving copies per distinct row value); a
                # per-key window marks keys with net rows on both sides
                # (exactly "key ∈ ins_net.keys ∩ del_net.keys", the
                # update-pair rule); one generate replicates survivors.
                # 2 Exchanges per commit, each input scanned once.
                sgn = (ins.withColumn("_sgn", F.lit(1)).unionByName(
                    dels.withColumn("_sgn", F.lit(-1))))
                net = (sgn.groupBy(*cols).agg(
                    F.sum(F.when(F.col("_sgn") > 0, 1).otherwise(0))
                    .alias("_ci"),
                    F.sum(F.when(F.col("_sgn") < 0, 1).otherwise(0))
                    .alias("_cd"))
                    .withColumn("_ni", F.greatest(
                        F.col("_ci") - F.col("_cd"), F.lit(0)))
                    .withColumn("_nd", F.greatest(
                        F.col("_cd") - F.col("_ci"), F.lit(0)))
                    .filter((F.col("_ni") > 0) | (F.col("_nd") > 0)))
                if keys:
                    from pyspark.sql import Window as _W
                    kw = _W.partitionBy(*keys)
                    net = (net
                           .withColumn("_ki", F.max("_ni").over(kw))
                           .withColumn("_kd", F.max("_nd").over(kw)))
                    tag = (F.when(
                        F.col("_ni") > 0,
                        F.when(F.col("_kd") > 0,
                               F.lit("update_postimage"))
                        .otherwise(F.lit("insert")))
                        .otherwise(
                        F.when(F.col("_ki") > 0,
                               F.lit("update_preimage"))
                        .otherwise(F.lit("delete"))))
                else:
                    tag = (F.when(F.col("_ni") > 0, F.lit("insert"))
                           .otherwise(F.lit("delete")))
                rows = (net
                        .withColumn("_change_type", tag)
                        .select(*cols, "_change_type",
                                F.explode(F.sequence(
                                    F.lit(1),
                                    F.when(F.col("_ni") > 0,
                                           F.col("_ni"))
                                    .otherwise(F.col("_nd"))))
                                .alias("_rep"))
                        .select(*cols, "_change_type"))
                frames.append(rows.withColumn(
                    "_commit_version", F.lit(i).cast("long")))
            else:
                pieces = ([(ins, "insert")] if ins is not None else []) \
                    + ([(dels, "delete")] if dels is not None else [])
                for fr, tag in pieces:
                    frames.append(
                        fr.withColumn("_change_type", F.lit(tag))
                        .withColumn("_commit_version",
                                    F.lit(i).cast("long")))
        if not frames:
            return self.spark.createDataFrame([], out_schema)
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def _check_schema(self, df: DataFrame) -> DataFrame:
        schema = self.schema()
        want = [f.name for f in schema.fields]
        have = set(df.columns)
        if set(want) != have:
            raise ValueError(f"schema mismatch: table has {want}, "
                             f"batch has {sorted(have)}; pass "
                             f"merge_schema=True to evolve")
        # Positional/nullable drift is tolerated; names+casts are enforced.
        return df.select(*[F.col(f.name).cast(f.dataType)
                           for f in schema.fields])

    def _evolve_schema(self, df: DataFrame, meta: dict
                       ) -> tuple[DataFrame, dict | None, list]:
        """``merge_schema=True`` reconciliation (the public Delta
        ``mergeSchema`` contract): batch columns NEW to the table widen
        the schema (appended as nullable, batch types); table columns
        MISSING from the batch are null-filled; existing columns keep the
        table's type (batch casts to it). Returns the conformed batch,
        the updated meta action dict (None when the schema is unchanged —
        no meta churn in the log), and the schema-changing validate hook
        (two concurrent widenings must not silently drop each other's
        columns: the last meta action wins wholesale, so a schema change
        conflicts with ANY intervening meta action)."""
        schema = StructType.fromJson(meta["schema"])
        names = {f.name for f in schema.fields}
        batch_cols = set(df.columns)
        # new columns arrive nullable regardless of the batch's own
        # nullability: every pre-existing file reads them as null
        new_fields = [StructField(f.name, f.dataType, True)
                      for f in df.schema.fields if f.name not in names]
        cols = [(F.col(f.name).cast(f.dataType) if f.name in batch_cols
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in schema.fields]
        for f in new_fields:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        out = df.select(*cols)
        if not new_fields:
            return out, None, []
        evolved = StructType(list(schema.fields) + new_fields)
        new_meta = dict(meta)
        new_meta["schema"] = json.loads(evolved.json())
        if meta.get("column_mapping"):
            # mapped tables: a new column gets a FRESH physical id —
            # reusing its logical name would collide with a previously
            # DROPPED column's physical data in old files (stale values
            # instead of nulls; the public Delta columnMapping rule)
            cm = dict(meta["column_mapping"])
            for f in new_fields:
                cm[f.name] = f"col-{uuid.uuid4().hex[:16]}"
            new_meta["column_mapping"] = cm

        def no_meta_race(intervening):
            if any("meta" in a for a in intervening):
                raise TxConflict(
                    f"concurrent schema change on {self.path}; re-run so "
                    f"both column additions survive")
        return out, new_meta, [no_meta_race]

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Atomic append (pure adds never conflict — retried past any
        concurrent commit). ``merge_schema=True`` lets a batch with new
        columns widen the table schema in the same commit (old files
        read as null for the new columns)."""
        rv, meta, _ = self._snapshot()
        validators = []
        df = self._apply_generated(df, meta)
        df = self._assign_identity(df, meta)
        if merge_schema:
            df, new_meta, validators = self._evolve_schema(df, meta)
            meta = new_meta or meta
        else:
            df = self._check_schema(df)
            new_meta = None
        adds = self._stage(df, meta.get("stat_cols", []),
                           bloom=meta.get("bloom"),
                           constraints=self._write_constraints(meta),
                           partition_cols=meta.get("partition_cols"),
                           colmap=meta.get("column_mapping"))
        # identity appends carry the advanced high-water mark in the
        # SAME commit; the MetadataChanged rule (this commit stages
        # rows, the concurrent one carries meta) turns a concurrent
        # allocation race into a TxConflict instead of duplicate ids
        id_meta = self._identity_meta(meta, adds)
        meta = id_meta or meta
        actions = ([{"meta": meta}] if (new_meta or id_meta) else [])
        actions += adds
        if not actions:
            return self.version

        def validate(intervening):
            for v in validators:
                v(intervening)
        return self._commit(actions, rv,
                            validate=validate if validators else None,
                            info={"op": "append"})

    def overwrite(self, df: DataFrame,
                  txn: tuple[str, int] | None = None) -> int:
        """Atomic full replace (S9 semantics, but versioned). Conflicts
        with ANY concurrent commit: "replace everything as of my read
        snapshot" is unsound once another writer changed the table.

        ``txn=(app_id, version)`` makes the overwrite IDEMPOTENT for a
        replayed streaming micro-batch (the Delta ``txn``-action
        pattern, same ledger as the streaming sink): if the table's
        last committed txn for ``app_id`` is already at-or-past
        ``version``, the call publishes NOTHING and returns the current
        version — the batch was applied before the crash. Otherwise the
        txn action rides in the same atomic commit as the data."""
        rv, meta, live = self._snapshot()
        self._require_mutable(meta, "overwrite")
        if self._replayed(txn):
            return self.version  # replayed batch: already applied
        df = self._apply_generated(df, meta)
        df = self._assign_identity(df, meta)
        actions = [{"remove": {"path": p}} for p in sorted(live)]
        adds = self._stage(self._check_schema(df),
                           meta.get("stat_cols", []),
                           bloom=meta.get("bloom"),
                           constraints=self._write_constraints(meta),
                           partition_cols=meta.get("partition_cols"),
                           colmap=meta.get("column_mapping"))
        id_meta = self._identity_meta(meta, adds)
        if id_meta:
            actions.append({"meta": id_meta})
        actions += adds

        def no_concurrency(intervening):
            if intervening:
                raise TxConflict(
                    f"overwrite of {self.path} raced a concurrent commit; "
                    "re-run on the new snapshot")
        return self._commit(actions, rv, validate=no_concurrency,
                            info={"op": "overwrite"}, txn=txn)

    def overwrite_partitions(self, df: DataFrame,
                             partition_values: dict) -> int:
        """Partition-scoped INSERT OVERWRITE (the public Delta
        ``replaceWhere`` shape at partition grain): atomically replace
        every live file whose recorded ``partitionValues`` match ALL
        the given columns with ``df``'s rows — the daily-reload shape
        (re-extract one country/day without touching the rest of the
        lake, no read-modify-write of the whole table).

        ``df`` must BELONG to the target partitions (one cheap
        validation filter): rows outside would otherwise silently land
        in other partitions while only the targets were cleared —
        Delta's replaceWhere constraint, enforced loudly. The CDC feed
        nets the swap to exactly the row diff (removed files' rows as
        deletes, staged rows as inserts). Conflicts with any
        intervening commit that ADDS data into the target partitions
        (its rows would be silently destroyed by our remove-set) —
        plus the usual file-level clash rules."""
        rv, meta, live = self._snapshot()
        self._require_mutable(meta, "overwrite_partitions")
        self._refuse_identity_dml(meta, "overwrite_partitions")
        pcols = meta.get("partition_cols") or []
        if not pcols:
            raise ValueError(f"{self.path} is not partitioned; use "
                             f"overwrite() for a full replace")
        partition_values = _typed_partition_values(
            partition_values, meta, self.path)
        df = self._check_schema(self._apply_generated(df, meta))
        outside = df
        for c, v in partition_values.items():
            outside = outside.filter(~F.col(c).eqNullSafe(F.lit(v)))
        stray = outside.limit(1).collect()
        if stray:
            kv = {c: stray[0][c] for c in partition_values}
            raise ValueError(
                f"overwrite_partitions({partition_values}) on "
                f"{self.path}: the batch holds rows outside the target "
                f"partitions (e.g. {kv}); replaceWhere semantics refuse "
                f"them rather than scattering rows the overwrite would "
                f"not clear")

        def in_target(add: dict) -> bool:
            pv = add.get("partitionValues") or {}
            return all(pv.get(c) == v for c, v in partition_values.items())

        targets = sorted(p for p, a in live.items() if in_target(a))
        actions = [{"remove": {"path": p}} for p in targets]
        actions += self._stage(df, meta.get("stat_cols", []),
                               bloom=meta.get("bloom"),
                               constraints=self._write_constraints(meta),
                               partition_cols=pcols,
                               colmap=meta.get("column_mapping"))

        def no_target_writes(intervening):
            for a in intervening:
                if "add" in a and a["add"].get("dataChange", True) \
                        and in_target(a["add"]):
                    raise TxConflict(
                        f"concurrent commit added rows into the "
                        f"partitions this overwrite replaces on "
                        f"{self.path}; re-run on the new snapshot")
        return self._commit(actions, rv, validate=no_target_writes,
                            info={"op": "overwrite_partitions",
                                  "partitions": {
                                      k: stat_scalar(v) for k, v
                                      in partition_values.items()}})

    # ------------------------------------------------------- bloom skipping
    # Per-file Bloom filters on declared columns (the public Delta bloom
    # filter index idea): range stats cannot prune point lookups on
    # high-cardinality keys whose per-file ranges overlap (uuid-like
    # keys, hash-distributed writes) — a membership bit-set can. Exact-
    # negative: a cleared bit proves absence, so pruning is always safe;
    # a saturated filter degrades to "pass everything", never to a wrong
    # answer. Hashing must agree between the Spark write side and the
    # Python probe side, so both run md5 over CAST(value AS STRING) utf-8
    # and slice k 32-bit words from the hex — which is also why bloom
    # columns are restricted to integral/string types (float formatting
    # differs between engines).

    @staticmethod
    def _bloom_positions(value: str, m: int, k: int) -> list[int]:
        import hashlib
        h = hashlib.md5(value.encode("utf-8")).hexdigest()
        return [int(h[8 * i:8 * i + 8], 16) % m for i in range(k)]

    @staticmethod
    def _bloom_bitsets(sdf: DataFrame, col: str, spec: dict
                       ) -> dict[str, str]:
        """One job per bloom column: distinct (file, bit-position) pairs
        — bounded by files × m rows, never data size — packed driver-side
        into a base64 bitset per file."""
        import base64
        m, k = int(spec.get("m", 4096)), int(spec.get("k", 3))
        pos = [(F.conv(F.substring("_h", 1 + 8 * i, 8), 16, 10)
                .cast("long") % m).alias(f"_p{i}") for i in range(k)]
        pairs = (sdf.select("_file", F.col(col).cast("string").alias("_s"))
                 .where(F.col("_s").isNotNull())
                 .select("_file", F.md5("_s").alias("_h"))
                 .select("_file", *pos)
                 .select("_file", F.explode(F.array(
                     *[f"_p{i}" for i in range(k)])).alias("_pos"))
                 .distinct().collect())
        sets: dict[str, set] = {}
        for r in pairs:
            sets.setdefault(_unq(r["_file"]), set()).add(int(r["_pos"]))
        out = {}
        for f, positions in sets.items():
            bits = bytearray((m + 7) // 8)
            for p in positions:
                bits[p // 8] |= 1 << (p % 8)
            out[f] = base64.b64encode(bytes(bits)).decode("ascii")
        return out

    _BLOOM_PROBE_MAX = 1024

    def _bloom_candidates(self, cand: list[str], live: dict,
                          keys: Sequence[str], probe: DataFrame,
                          meta: dict, probe_rows=None) -> list[str]:
        """Drop range-surviving files whose bloom PROVES no probe key is
        present. Only fires in the point-lookup regime (≤ 1024 distinct
        probe keys — the driver holds them anyway for the bit tests);
        bulk merges keep the range-only path, so the collect here is
        always bounded. ``probe_rows`` lets a caller that already holds
        the collected probe (read_keys' fast path) skip the collect
        entirely; None means "collect here". Files/columns without a
        stored bloom, null probe values, and saturated filters all
        degrade to "keep"."""
        import base64
        spec = (meta or {}).get("bloom") or {}
        cols = [c for c in keys if c in spec.get("cols", ())]
        if not cols or len(cand) <= 1:
            return cand  # nothing prunable: skip the probe collect
        rows = (probe_rows if probe_rows is not None else
                probe.select(*cols).distinct()
                .limit(self._BLOOM_PROBE_MAX + 1).collect())
        if len(rows) > self._BLOOM_PROBE_MAX:
            return cand  # bulk regime: stats already did the work
        m, k = int(spec.get("m", 4096)), int(spec.get("k", 3))
        probes = []  # per row: {col: positions or None}
        for r in rows:
            probes.append({c: (None if r[c] is None else
                               self._bloom_positions(str(r[c]), m, k))
                           for c in cols})
        kept = []
        for path in cand:
            add = live[path]
            stored = add.get("bloom") or {}
            bitsets = {}
            for c in cols:
                b64 = stored.get(c)
                bitsets[c] = base64.b64decode(b64) if b64 else None
            def row_may_hit(pr) -> bool:
                for c in cols:
                    bits, positions = bitsets[c], pr[c]
                    if bits is None or positions is None:
                        continue  # unknowable for this column: pass
                    if not all(bits[p // 8] >> (p % 8) & 1
                               for p in positions):
                        return False  # proven absent in this file
                return True
            if any(row_may_hit(pr) for pr in probes):
                kept.append(path)
        return kept

    @staticmethod
    def _batch_bounds(batch: DataFrame, keys: Sequence[str]
                      ) -> tuple[int, dict]:
        """(row count, per-key [min, max]) of the batch — ONE
        (2k+1)-scalar agg, so emptiness and bounds cost a single
        driver-synchronous job (the probe chains are latency-bound)."""
        row = batch.agg(F.count(F.lit(1)).alias("_n"),
                        *TxTable._bound_aggs(keys)).collect()[0]
        return int(row["_n"]), TxTable._bounds_of(row, keys)

    @staticmethod
    def _bound_aggs(keys: Sequence[str]) -> list:
        """Per-key min/max aggregates for :meth:`_bounds_of`."""
        return [f for k in keys for f in (F.min(k).alias(f"lo_{k}"),
                                          F.max(k).alias(f"hi_{k}"))]

    @staticmethod
    def _bounds_of(row, keys: Sequence[str]) -> dict:
        """Per-key [min, max] read off a row holding :meth:`_bound_aggs`."""
        return {k: (stat_scalar(row[f"lo_{k}"]), stat_scalar(row[f"hi_{k}"]))
                for k in keys}

    @staticmethod
    def _overlaps(add: dict, keys: Sequence[str], bounds: dict) -> bool:
        """Can the file's stat ranges intersect the batch's key ranges?
        Missing/None stats degrade to True (never prune a maybe-match).

        ``partitionValues`` participate as EXACT single-value stats
        (min = max = the value), so partition pruning happens before —
        and through exactly the same machinery as — stat pruning, in
        every planner that calls this (merge/delete/apply_changes/
        read_keys and their conflict validators)."""
        stats = add.get("stats") or {}
        pv = add.get("partitionValues") or {}
        for k in keys:
            blo, bhi = bounds[k]
            if blo is None or bhi is None:
                continue
            # both sides canonicalized: stats store isoformat ('T'),
            # partitionValues store the hive path form (space) — the
            # spellings mis-order each other (txproto.canon_temporal)
            blo, bhi = _canon(blo), _canon(bhi)
            if k in pv:
                v = _canon(pv[k])
                if v is not None and (v < blo or v > bhi):
                    return False
                continue
            if k not in stats:
                continue
            lo, hi = stats[k]
            if lo is None or hi is None:
                continue
            if _canon(hi) < blo or _canon(lo) > bhi:
                return False
        return True

    @staticmethod
    def _add_logical(meta: dict, add: dict) -> dict:
        """Translate one RAW add action (an intervening commit's, seen
        by a conflict validator) into the snapshot's logical name space
        — identity for unmapped tables. The folded ``live`` set is
        already translated by :meth:`_snapshot`; only actions read
        straight off commit files need this."""
        inv = _colmap_inverse(meta)
        return _add_to_logical(inv, add) if inv else add

    def _candidate_files(self, live: dict[str, dict], keys: Sequence[str],
                         bounds: dict) -> list[str]:
        """Files whose per-key stat ranges overlap the batch's key ranges.

        Driver cost: one row per live file (the log is driver-sized by
        design)."""
        return sorted(p for p, add in live.items()
                      if self._overlaps(add, keys, bounds))

    def merge_upsert(self, batch: DataFrame, keys: Sequence[str],
                     update: bool = False,
                     merge_schema: bool = False) -> int:
        """Atomic keyed MERGE.

        ``update=False`` (default): first-writer-wins insert-only — rows
        whose key already exists are dropped, the rest append (the
        reference's dbt ``unique_key`` semantics). No file is rewritten.

        ``update=True``: last-wins copy-on-write — existing rows with
        colliding keys are replaced by the batch row; only files that
        actually contain a colliding key are rewritten (stat-range prune,
        then an exact semi-join probe).

        ``merge_schema=True``: a batch with new columns widens the table
        schema in the same commit (old files — including the unrewritten
        ones — read as null for the new columns).

        Identity tables merge natively (beyond the vendor Delta
        MERGE×IDENTITY restriction): the batch must OMIT the identity
        columns (GENERATED ALWAYS), matched rows KEEP their existing
        ids through the rewrite, and inserted rows allocate fresh ones
        — with the high-water mark advanced in the same commit.
        """
        keys = list(keys)
        rv, meta, live = self._snapshot()
        if update:
            self._require_mutable(meta, "merge_upsert(update=True)")
        ident = meta.get("identity") or {}
        id_cols = sorted(ident)
        if ident:
            bad = sorted(set(id_cols) & set(keys))
            if bad:
                raise ValueError(
                    f"merge keys {bad} of {self.path} are GENERATED "
                    f"ALWAYS AS IDENTITY: batches cannot carry them, so "
                    f"they cannot be merge keys")
            provided = sorted(set(id_cols) & set(batch.columns))
            if provided:
                raise ValueError(
                    f"column(s) {provided} of {self.path} are GENERATED "
                    f"ALWAYS AS IDENTITY: values are engine-assigned "
                    f"and cannot be provided")
            if merge_schema:
                raise ValueError(
                    f"merge_schema=True on identity table {self.path} "
                    f"is not supported (schema evolution would null-"
                    f"fill the engine-assigned columns); run "
                    f"append(merge_schema=True) with an empty batch to "
                    f"evolve first")
        batch = self._apply_generated(batch, meta)
        extra_validators = []
        if merge_schema:
            batch, new_meta, extra_validators = self._evolve_schema(
                batch, meta)
            meta = new_meta or meta
        else:
            new_meta = None
            if ident:
                # conform to the schema MINUS the identity columns —
                # ids attach per-row below (kept for matches, allocated
                # for inserts), then the full-schema conform runs
                sub = StructType.fromJson(meta["schema"])
                batch = batch.select(
                    *[F.col(f.name).cast(f.dataType)
                      for f in sub.fields if f.name not in ident])
            else:
                batch = self._check_schema(batch)
        schema = StructType.fromJson(meta["schema"])
        batch = batch.dropDuplicates(keys)
        _n, bounds = self._batch_bounds(batch, keys)
        pkeys, pbounds = self._extend_generated_bounds(meta, keys, bounds)
        cand = self._candidate_files(live, pkeys, pbounds)
        cand = self._bloom_candidates(cand, live, keys, batch, meta)
        stat_cols = meta.get("stat_cols", [])

        def no_key_overlap(intervening):
            # A concurrent commit that ADDED a file whose key-stat range
            # overlaps this batch may have inserted/updated one of our
            # keys — the merge's anti-join/replace decisions are stale.
            # Conservative (stat-grain) but never silent: caller re-runs.
            for a in intervening:
                if "add" in a and self._overlaps(
                        self._add_logical(meta, a["add"]), pkeys, pbounds):
                    raise TxConflict(
                        f"concurrent commit added keys overlapping this "
                        f"merge's key range on {self.path}; re-run the "
                        f"merge on the new snapshot")

        def validate(intervening):
            no_key_overlap(intervening)
            for v in extra_validators:
                v(intervening)

        meta_actions = [{"meta": meta}] if new_meta else []
        dvs = self._live_dvs(live)
        if not update:
            if cand:
                existing = self._scan_files(meta, cand,
                                            dvs=dvs).select(*keys)
                batch = batch.join(existing.distinct(), on=keys,
                                   how="left_anti")
            if ident:
                # first-wins: every surviving batch row is an INSERT —
                # allocate its identity values now
                batch = self._check_schema(
                    self._assign_identity(batch, meta))
            staged = self._stage(
                batch, stat_cols, bloom=meta.get("bloom"),
                constraints=self._write_constraints(meta),
                partition_cols=meta.get("partition_cols"),
                colmap=meta.get("column_mapping"))
            id_meta = self._identity_meta(meta, staged)
            if id_meta:
                meta_actions = [{"meta": id_meta}]
            adds = meta_actions + staged
            # a pure schema widening (every row was a duplicate) still
            # commits: the caller asked for the evolved schema
            return (self._commit(adds, rv, validate=validate,
                                 info={"op": "merge_upsert"})
                    if adds else self.version)
        # update=True: find files that REALLY hold colliding keys
        affected: list[str] = []
        if cand:
            resolve = self._path_resolver(cand, len(meta.get("partition_cols") or ()))
            cdf = self._scan_files(meta, cand, with_file=True, dvs=dvs)
            # AQE picks broadcast-semi when the batch key set is small
            # (the common MERGE shape); no forced hint — a bulk backfill
            # batch can exceed the broadcast limit.
            affected = [resolve(r["_file"]) for r in
                        cdf.select("_file", *keys)
                        .join(batch.select(*keys).distinct(),
                              on=keys, how="left_semi")
                        .select("_file").distinct().collect()]
        if ident:
            # matched rows KEEP their existing identity values (taken
            # from the rows being replaced — min per key for the
            # degenerate multi-match case), inserts allocate fresh ones
            if affected:
                id_map = (self._scan_files(meta, affected, dvs=dvs)
                          .groupBy(*keys)
                          .agg(*[F.min(c).alias(c) for c in id_cols]))
                matched = batch.join(id_map, on=keys, how="inner")
                fresh = batch.join(id_map.select(*keys), on=keys,
                                   how="left_anti")
            else:
                matched, fresh = None, batch
            fresh = self._assign_identity(fresh, meta)
            batch = (fresh if matched is None
                     else matched.unionByName(fresh))
            batch = self._check_schema(batch)
        actions = [{"remove": {"path": p}} for p in sorted(affected)]
        if affected:
            keep = (self._scan_files(meta, affected, dvs=dvs)
                    .join(batch.select(*keys).distinct(), on=keys,
                          how="left_anti"))
            new_data = keep.unionByName(batch)
        else:
            new_data = batch
        staged = self._stage(new_data, stat_cols,
                             bloom=meta.get("bloom"),
                             constraints=self._write_constraints(meta),
                             partition_cols=meta.get("partition_cols"),
                             colmap=meta.get("column_mapping"))
        id_meta = self._identity_meta(meta, staged)
        if id_meta:
            meta_actions = [{"meta": id_meta}]
        actions = meta_actions + actions + staged
        return self._commit(actions, rv, validate=validate,
                            info={"op": "merge_upsert"})

    #: dv mode holds (file, key) tombstones in the driver + the JSON log;
    #: past this many matched pairs the log line stops being "driver-
    #: sized" and copy-on-write is the right tool — refused loudly.
    _DV_MAX_PAIRS = 65536

    def delete(self, batch: DataFrame, keys: Sequence[str],
               mode: str = "cow") -> int:
        """Atomic keyed DELETE. Two physical strategies, same logical
        result:

        ``mode="cow"`` (default — the public Delta DELETE shape): every
        file holding a matching key is rewritten without the matching
        rows (stat-range prune, then an exact semi-join probe — the
        same planner as :meth:`merge_upsert`). The CDC feed surfaces
        the rewrite as removed-file rows (deletes) plus survivors
        (inserts), netting to exactly the deleted rows.

        ``mode="dv"`` (merge-on-read, the Iceberg equality-delete /
        Delta deletion-vector idea): ZERO data files are rewritten —
        the commit records per-file key tombstones (``dv`` actions),
        snapshot reads and every DML planner anti-join them, and the
        CDC feed emits exactly the tombstoned rows as deletes. This is
        the point-delete answer at 100 TB: a one-row delete in a 1 GB
        file costs one log line instead of a 1 GB rewrite (copy-on-
        write's write amplification), at the price of a per-read
        anti-join that :meth:`optimize` later materializes away.
        First use upgrades the table protocol to reader/writer 3
        (every shipped tier — TxTable and both plain-IO DataSources —
        reads deletion vectors; older clients refuse loudly). Key
        columns must be integral/string/boolean (tombstones live in
        the JSON log and must compare portably); matched pairs are
        capped at ``_DV_MAX_PAIRS`` — bulk deletes belong to cow.

        Conflicts like a merge: a concurrent commit adding keys inside
        this delete's key range invalidates the probe (a just-inserted
        matching row would survive), so it raises :class:`TxConflict`.
        """
        if mode not in ("cow", "dv"):
            raise ValueError(f"delete mode must be 'cow' or 'dv', "
                             f"got {mode!r}")
        keys = list(keys)
        rv, meta, live = self._snapshot()
        self._require_mutable(meta, "delete")
        if mode == "dv":
            schema_types = {f["name"]: f["type"]
                            for f in meta["schema"]["fields"]
                            if isinstance(f.get("type"), str)}
            ok = {"byte", "short", "integer", "long", "string", "boolean"}
            bad = sorted(k for k in keys
                         if schema_types.get(k, "?") not in ok)
            if bad:
                raise ValueError(
                    f"dv delete keys {bad} have non-portable types; "
                    f"deletion-vector tombstones live in the JSON log "
                    f"and support integral/string/boolean keys only "
                    f"(use mode='cow')")
        schema = StructType.fromJson(meta["schema"])
        key_schema = StructType([f for f in schema.fields
                                 if f.name in keys])
        batch = (batch.select(*[F.col(f.name).cast(f.dataType)
                                for f in key_schema.fields])
                 .dropDuplicates(keys))
        _n, bounds = self._batch_bounds(batch, keys)
        pkeys, pbounds = self._extend_generated_bounds(meta, keys, bounds)
        cand = self._candidate_files(live, pkeys, pbounds)
        cand = self._bloom_candidates(cand, live, keys, batch, meta)
        stat_cols = meta.get("stat_cols", [])

        def no_key_overlap(intervening):
            for a in intervening:
                if "add" in a and self._overlaps(
                        self._add_logical(meta, a["add"]), pkeys, pbounds):
                    raise TxConflict(
                        f"concurrent commit added keys overlapping this "
                        f"delete's key range on {self.path}; re-run the "
                        f"delete on the new snapshot")

        if not cand:
            return self.version  # nothing can match: no-op, no commit
        dvs = self._live_dvs(live)
        resolve = self._path_resolver(cand, len(meta.get("partition_cols") or ()))
        cdf = self._scan_files(meta, cand, with_file=True, dvs=dvs)
        matched = (cdf.select("_file", *keys)
                   .join(batch, on=keys, how="left_semi"))
        if mode == "dv":
            return self._delete_dv(meta, rv, keys, matched,
                                   no_key_overlap, resolve, dvs)
        affected = [resolve(r["_file"]) for r in
                    matched.select("_file").distinct().collect()]
        if not affected:
            return self.version  # stat ranges overlapped, no real match
        keep = (self._scan_files(meta, affected, dvs=dvs)
                .join(batch, on=keys, how="left_anti"))
        actions = [{"remove": {"path": p}} for p in sorted(affected)]
        actions += self._stage(keep, stat_cols,
                               bloom=meta.get("bloom"),
                               constraints=self._write_constraints(meta),
                               partition_cols=meta.get("partition_cols"),
                               colmap=meta.get("column_mapping"))
        return self._commit(actions, rv, validate=no_key_overlap,
                            info={"op": "delete"})

    def _delete_dv(self, meta: dict, rv: int, keys: list[str],
                   matched: DataFrame, validate, resolve,
                   dvs: dict[str, dict]) -> int:
        """The merge-on-read half of :meth:`delete`: commit per-file key
        tombstones for the matched (file, key) pairs — no data rewrite.
        ``matched`` already excludes previously-tombstoned rows (the
        probe scan is DV-aware), so re-deleting a key is a no-op and
        CDC never double-emits a delete.

        A file's tombstones must all share ONE key-column set (they are
        folded as a single keyed set — ``txproto.merge_dv``), so a delete
        whose ``keys`` differ from a target file's existing DV keyCols
        is refused at plan time (and a concurrent such delete is a
        :class:`TxConflict` — see ``dv_keycols`` in :meth:`_commit`)
        rather than publishing a commit every later fold would choke
        on."""
        from .txproto import DV_PROTOCOL, merged_protocol, needs_upgrade
        pairs = (matched.select("_file", *keys).distinct()
                 .limit(self._DV_MAX_PAIRS + 1).collect())
        if len(pairs) > self._DV_MAX_PAIRS:
            raise ValueError(
                f"dv delete matched more than {self._DV_MAX_PAIRS} "
                f"(file, key) pairs on {self.path}; tombstones of that "
                f"size stop being driver/log-sized — use mode='cow'")
        if not pairs:
            return self.version  # nothing visible matches: no commit
        by_file: dict[str, list[list]] = {}
        for r in pairs:
            by_file.setdefault(resolve(r["_file"]), []).append(
                [stat_scalar(r[k]) for k in keys])
        mismatched = sorted(
            p for p in by_file
            if p in dvs and list(dvs[p]["keyCols"]) != keys)
        if mismatched:
            raise ValueError(
                f"files {mismatched} already carry deletion vectors "
                f"keyed by {dvs[mismatched[0]]['keyCols']}; a file's "
                f"tombstones must share one key-column set — delete "
                f"with mode='cow', or OPTIMIZE first to materialize "
                f"the existing tombstones away")
        actions = []
        cur_proto = getattr(self, "_proto", None)
        if needs_upgrade(cur_proto, DV_PROTOCOL):
            # feature gate rides the SAME atomic commit as its first
            # use; merged so an already-higher declaration never lowers
            actions.append(protocol_action(
                merged_protocol(cur_proto, DV_PROTOCOL)))
        cm = meta.get("column_mapping") or {}
        phys_keys = [cm.get(k, k) for k in keys]  # log speaks physical
        for path in sorted(by_file):
            actions.append({"dv": {"path": path, "keyCols": phys_keys,
                                   "keys": sorted(by_file[path])}})
        return self._commit(actions, rv, validate=validate,
                            info={"op": "delete", "mode": "dv",
                                  "tombstones": len(pairs)})

    def apply_changes(self, changes: DataFrame, keys: Sequence[str],
                      txn: tuple[str, int] | None = None) -> int:
        """Apply one change-data-feed window to THIS table in ONE atomic
        commit — the CONSUMING end of the CDC story (``read_changes`` /
        the ``txlog_cdc`` stream produce; this applies): rows tagged
        ``_change_type='delete'`` are removed by key, rows tagged
        ``'insert'`` are upserted, together. Feeding
        a replica table from a source's change feed with this per
        micro-batch — ``txn``-guarded exactly like the streaming sink —
        replicates the source through ANY DML history (append, MERGE,
        DELETE, UPDATE, RESTORE, and ``merge_schema`` widenings),
        pytest-pinned including a crash between the replica commit and
        the stream checkpoint.

        Schema evolution FOLLOWS the source: a window whose feed
        carries columns beyond the replica's stored schema (a source
        that widened via ``merge_schema=True``) widens the replica in
        the SAME atomic commit, so the replica never silently drops a
        source column; old replica files read the new columns as null,
        exactly like the source's own files do.

        Replication is key-based, so the SOURCE must be key-unique: a
        window whose netted inserts hold more than one row for a key
        (the source itself carries duplicate keys, or appended the same
        key twice without a rewrite) has no well-defined keyed replica
        and raises ``ValueError`` instead of silently keeping an
        arbitrary row. Copy-on-write sources never trip this — a
        rewritten row's old value arrives as a delete and nets away.

        The window is netted first, once, by
        :func:`~..operators.incremental.net_changes` (one signed-count
        aggregate, checkpointed), so rows carried unchanged through the
        source's copy-on-write rewrites cancel and cost nothing — the
        same discipline as the CDC index folds
        (:func:`~.neardup.fold_cdc_near_dup`,
        :func:`~.annindex.fold_cdc_ann`).
        The touched-key count, the key-uniqueness check and the key
        bounds come from one summary row over that checkpoint. Then ONE
        stat-pruned probe finds the files holding any touched key, and
        one rewrite drops/replaces them: cost ∝ files containing
        touched keys, never table size. A window that nets to nothing
        publishes NO commit (a replay of it is identically nothing).
        Conflicts: a concurrent commit adding keys in the touched range
        raises :class:`TxConflict` (the merge rule).
        """
        keys = list(keys)
        rv, meta, live = self._snapshot()
        self._require_mutable(meta, "apply_changes")
        if self._replayed(txn):
            return self.version  # replayed batch: already applied
        schema = StructType.fromJson(meta["schema"])
        stored = {f.name for f in schema.fields}
        feed_cols = [c for c in changes.columns if c != "_change_type"]
        extra = [c for c in feed_cols if c not in stored]
        # Net on the FEED's schema (both tags share it), so a widened
        # source column participates in the cancel before conforming.
        # ONE checkpoint of the netted window feeds every later step:
        # the summary row, the file probe and the staged rewrite.
        net = materialize(net_changes(changes, feed_cols), "eager")
        is_ins = F.col("_change_type") == "insert"
        net_ins = net.filter(is_ins).select(*feed_cols)
        net_del = net.filter(~is_ins).select(*feed_cols)
        evolve_validators: list = []
        new_meta = None
        if extra:
            # Follow the source's widening: evolve the replica schema in
            # the same commit (nullable, feed types — the merge_schema
            # contract), instead of silently projecting the column away.
            net_ins, new_meta, evolve_validators = self._evolve_schema(
                net_ins, meta)
            if new_meta is not None:
                meta = new_meta
                schema = StructType.fromJson(meta["schema"])
        else:
            net_ins = self._check_schema(net_ins)
        key_rows = (net_ins.select(*keys, F.lit(1).alias("_i"))
                    .unionByName(net_del.select(*keys, F.lit(0).alias("_i"))))
        # ONE summary row over the touched keys: their count, the most
        # netted inserts any key holds, and the key bounds.
        summary = (key_rows.groupBy(*keys).agg(F.sum("_i").alias("_i"))
                   .agg(F.count(F.lit(1)).alias("_n"),
                        F.max("_i").alias("_max_ins"),
                        *self._bound_aggs(keys)).collect()[0])
        # Keyed replication needs key-unique sources: >1 netted insert
        # per key means the source holds duplicate keys — keeping an
        # arbitrary one would silently diverge the replica (see
        # docstring). Only this error path looks the key up.
        if (summary["_max_ins"] or 0) > 1:
            dup = (net_ins.groupBy(*keys).count()
                   .filter(F.col("count") > 1).limit(1).collect())
            kv = {k: dup[0][k] for k in keys}
            raise ValueError(
                f"apply_changes on {self.path}: change window nets "
                f">1 insert for key {kv}; keyed replication requires a "
                f"key-unique source (copy-on-write sources net to one "
                f"row per key — duplicate appends of a key do not)")
        if summary["_n"] == 0:
            return self.version  # window netted to nothing: no commit
        bounds = self._bounds_of(summary, keys)
        touched = key_rows.select(*keys).distinct()
        pkeys, pbounds = self._extend_generated_bounds(meta, keys, bounds)
        cand = self._candidate_files(live, pkeys, pbounds)
        cand = self._bloom_candidates(cand, live, keys, touched, meta)
        stat_cols = meta.get("stat_cols", [])

        def no_key_overlap(intervening):
            for a in intervening:
                if "add" in a and self._overlaps(
                        self._add_logical(meta, a["add"]), pkeys, pbounds):
                    raise TxConflict(
                        f"concurrent commit added keys overlapping this "
                        f"change window on {self.path}; re-run against "
                        f"the new snapshot")

        affected: list[str] = []
        dvs = self._live_dvs(live)
        if cand:
            resolve = self._path_resolver(cand, len(meta.get("partition_cols") or ()))
            cdf = self._scan_files(meta, cand, with_file=True, dvs=dvs)
            affected = [resolve(r["_file"]) for r in
                        cdf.select("_file", *keys)
                        .join(touched, on=keys, how="left_semi")
                        .select("_file").distinct().collect()]
        removes = [{"remove": {"path": p}} for p in sorted(affected)]
        if affected:
            # Evolved schema null-fills pre-widening survivor files,
            # same as the source's own post-merge_schema reads.
            keep = (self._scan_files(meta, affected, dvs=dvs)
                    .join(touched, on=keys, how="left_anti"))
            new_data = keep.unionByName(net_ins)
        else:
            new_data = net_ins
        staged = self._stage(new_data, stat_cols,
                             bloom=meta.get("bloom"),
                             constraints=self._write_constraints(meta),
                             partition_cols=meta.get("partition_cols"),
                             colmap=meta.get("column_mapping"))
        # identity REPLICAS carry the source's engine-assigned ids in
        # the feed; the replica's own hwm must still track them so a
        # later direct append cannot re-allocate an id already present
        id_meta = self._identity_meta(meta, staged)
        meta = id_meta or meta
        actions = ([{"meta": meta}]
                   if (new_meta is not None or id_meta) else [])
        actions += removes + staged
        if not actions and txn is None:
            return self.version

        def validate(intervening):
            no_key_overlap(intervening)
            for v in evolve_validators:
                v(intervening)
        return self._commit(actions, rv, validate=validate,
                            info={"op": "apply_changes"}, txn=txn)

    def apply_delta(self, deletes: Sequence[tuple[Sequence[str], DataFrame]],
                    inserts: DataFrame | None = None,
                    txn: tuple[str, int] | None = None) -> int:
        """One atomic keyed DELTA commit — the low-level state-
        maintenance primitive under incremental view maintenance loops
        (the durable near-dup index): remove every row matching ANY
        ``(key_cols, keys_df)`` delete clause and add ``inserts``, in a
        single copy-on-write commit.

        Differences from :meth:`apply_changes` (which consumes a row-
        level change FEED): clauses may target different key columns —
        e.g. a pair frame deleted by either endpoint, a per-doc frame
        deleted by (frame, doc_id) — and ``inserts`` may carry several
        rows per key (a document's shingle set). No netting, no
        key-uniqueness: the caller supplies exact deltas.

        Planner: each clause stat-prunes the live set on ITS key bounds
        and probes only the candidate files for true matches; the union
        of affected files is rewritten ONCE with all clauses' rows
        dropped. Cost ∝ files holding matches + inserts, never table
        size. ``txn`` gives streaming folds the standard idempotent-
        replay guard. A delta that matches nothing and inserts nothing
        publishes no commit. Conflicts: a concurrent commit adding keys
        inside any clause's range raises :class:`TxConflict`.
        """
        rv, meta, live = self._snapshot()
        self._require_mutable(meta, "apply_delta")
        if self._replayed(txn):
            return self.version  # replayed batch: already applied
        schema = StructType.fromJson(meta["schema"])
        stat_cols = meta.get("stat_cols", [])
        dvs = self._live_dvs(live)
        probes: list[tuple[list[str], DataFrame, dict]] = []
        affected: set[str] = set()
        for key_cols, kdf in deletes:
            key_cols = list(key_cols)
            key_schema = StructType([f for f in schema.fields
                                     if f.name in key_cols])
            probe = materialize(
                kdf.select(*[F.col(f.name).cast(f.dataType)
                             for f in key_schema.fields])
                .dropDuplicates(key_cols), "eager")
            n_probe, bounds = self._batch_bounds(probe, key_cols)
            if n_probe == 0:
                continue
            pkeys, pbounds = self._extend_generated_bounds(
                meta, key_cols, bounds)
            cand = self._candidate_files(live, pkeys, pbounds)
            probes.append((pkeys, probe, pbounds, key_cols))
            if not cand:
                continue
            resolve = self._path_resolver(cand, len(meta.get("partition_cols") or ()))
            cdf = self._scan_files(meta, cand, with_file=True,
                                   dvs=dvs)
            affected.update(
                resolve(r["_file"]) for r in
                cdf.select("_file", *key_cols)
                .join(probe, on=key_cols, how="left_semi")
                .select("_file").distinct().collect())

        def no_key_overlap(intervening):
            for a in intervening:
                if "add" not in a:
                    continue
                for pkeys, _probe, pbounds, _kc in probes:
                    if self._overlaps(self._add_logical(meta, a["add"]),
                                      pkeys, pbounds):
                        raise TxConflict(
                            f"concurrent commit added keys overlapping "
                            f"this delta's range on {self.path}; re-run "
                            f"against the new snapshot")

        actions = [{"remove": {"path": p}} for p in sorted(affected)]
        new_data = None
        if affected:
            keep = self._scan_files(meta, sorted(affected), dvs=dvs)
            for _pkeys, probe, _pbounds, key_cols in probes:
                keep = keep.join(probe, on=key_cols, how="left_anti")
            new_data = keep
        if inserts is not None:
            ins = self._check_schema(self._apply_generated(inserts, meta))
            new_data = (ins if new_data is None
                        else new_data.unionByName(ins))
        if new_data is not None:
            staged = self._stage(new_data, stat_cols,
                                 bloom=meta.get("bloom"),
                                 constraints=self._write_constraints(meta),
                                 partition_cols=meta.get(
                                     "partition_cols"),
                                 colmap=meta.get("column_mapping"))
            # identity replicas: track the feed's ids (see apply_changes)
            id_meta = self._identity_meta(meta, staged)
            if id_meta:
                actions.insert(0, {"meta": id_meta})
            actions += staged
        if not actions:
            return self.version  # empty delta: no commit, replay-safe
        return self._commit(actions, rv, validate=no_key_overlap,
                            info={"op": "apply_delta"}, txn=txn)

    def update(self, condition: str, assignments: dict[str, str]) -> int:
        """Atomic UPDATE (copy-on-write, the public Delta UPDATE shape):
        every row matching ``condition`` (a SQL boolean expression over
        the table's columns) has each ``assignments`` column replaced by
        its SQL expression (evaluated on the OLD row — all reads see
        pre-update values, standard UPDATE semantics); non-matching rows
        pass through byte-identical.

        Planner: one probe scan finds the files that actually hold a
        matching row (column-pruned to the condition's inputs; parquet
        row-group stats prune inside the scan), and ONLY those files are
        rewritten — rewrite cost ∝ files containing matches, never table
        size. Zero matches publishes NO commit. The CDC feed surfaces
        the rewrite as removed-file rows (deletes) + survivor rows
        (inserts), netting to exactly the changed rows under
        :meth:`read_changes`' multiset fold.

        Conflicts: the condition is an arbitrary expression the planner
        cannot check against a concurrent commit's file STATS, so any
        intervening data-changing add conflicts (conservative,
        stat-blind — stricter than :meth:`merge_upsert`'s key-range
        rule, same as vendor Delta's UPDATE-vs-concurrent-write
        behavior); layout-only (``dataChange: false``) adds never
        conflict.
        """
        rv, meta, live = self._snapshot()
        self._require_mutable(meta, "update")
        schema = StructType.fromJson(meta["schema"])
        names = {f.name for f in schema.fields}
        bad = sorted(set(assignments) - names)
        if bad:
            raise ValueError(f"assignments target unknown columns {bad}; "
                             f"UPDATE cannot add columns")
        gen = meta.get("generated") or {}
        locked = sorted((set(gen) | set(meta.get("identity") or {}))
                        & set(assignments))
        if locked:
            raise ValueError(
                f"UPDATE cannot assign generated/identity columns "
                f"{locked} of {self.path}: their values are engine-"
                f"derived (assign the base columns; generated columns "
                f"recompute automatically)")
        # generated columns whose expression reads an assigned column
        # recompute for updated rows (the public Delta rule: updating a
        # base column updates the generated one); a generated PARTITION
        # column fed by an assignment means rows change partitions —
        # refused like any partition-column assignment
        touched_gen: dict[str, str] = {}
        pcols_set = set(meta.get("partition_cols") or ())
        for a in list(assignments):
            for g in self._generated_refs(meta, a):
                if g in pcols_set:
                    raise ValueError(
                        f"UPDATE assigns {a!r}, which feeds generated "
                        f"partition column {g!r} of {self.path}: a row "
                        f"changing partitions is a delete + insert "
                        f"(run delete() then append())")
                touched_gen[g] = gen[g]
        stat_cols = meta.get("stat_cols", [])
        cond = F.expr(condition)

        def no_data_change(intervening):
            for a in intervening:
                if "add" in a and a["add"].get("dataChange", True):
                    raise TxConflict(
                        f"concurrent commit added rows while this update's "
                        f"condition was being probed on {self.path}; re-run "
                        f"the update on the new snapshot")

        if not live:
            return self.version
        pcols = set(meta.get("partition_cols") or ())
        moved = sorted(pcols & set(assignments))
        if moved:
            raise ValueError(
                f"UPDATE cannot assign partition columns {moved} of "
                f"{self.path}: a row changing partitions is a delete + "
                f"insert (run delete() then append(), or merge_upsert)")
        dvs = self._live_dvs(live)
        resolve = self._path_resolver(sorted(live), len(meta.get("partition_cols") or ()))
        cdf = self._scan_files(meta, sorted(live), with_file=True,
                               dvs=dvs)
        affected = [resolve(r["_file"]) for r in
                    cdf.filter(cond).select("_file").distinct().collect()]
        if not affected:
            return self.version  # nothing matches: no-op, no commit
        old = self._scan_files(meta, sorted(affected), dvs=dvs)
        extra = [cond.alias("_upd")] if touched_gen else []
        rewritten = old.select(*[
            (F.when(cond, F.expr(assignments[f.name]).cast(f.dataType))
             .otherwise(F.col(f.name)).alias(f.name)
             if f.name in assignments else F.col(f.name))
            for f in schema.fields], *extra)
        if touched_gen:
            # generated columns recompute over the POST-assignment
            # values (SQL UPDATE evaluates all assignments against the
            # old row, so folding the generation expr into the same
            # projection would read the STALE base column) — second
            # row-local projection, same stage, no extra job
            types = {f.name: f.dataType for f in schema.fields}
            rewritten = rewritten.select(*[
                (F.when(F.col("_upd"),
                        F.expr(touched_gen[f.name]).cast(types[f.name]))
                 .otherwise(F.col(f.name)).alias(f.name)
                 if f.name in touched_gen else F.col(f.name))
                for f in schema.fields])
        actions = [{"remove": {"path": p}} for p in sorted(affected)]
        actions += self._stage(rewritten, stat_cols,
                               bloom=meta.get("bloom"),
                               constraints=self._write_constraints(meta),
                               partition_cols=meta.get("partition_cols"),
                               colmap=meta.get("column_mapping"))
        return self._commit(actions, rv, validate=no_data_change,
                            info={"op": "update"})

    def restore(self, version: int) -> int:
        """RESTORE the table to an earlier snapshot as a NEW commit (the
        public Delta RESTORE shape): the live file set — and the schema,
        if it evolved since — becomes exactly ``version``'s, published
        on top of the current history, so nothing is lost: every version
        including the pre-restore head stays time-travelable, and the
        restore itself can be restored away.

        Files the old snapshot held that were since removed are
        RE-ADDED by reference (their original add actions, stats
        intact — no data is copied or rewritten; the commit is pure
        log manipulation, cost independent of data volume). They must
        still exist physically: a restore past :meth:`vacuum`'s
        retention fails loudly, listing what's gone (the same
        RESTORE-vs-vacuum contract as vendor Delta). A re-added file
        whose original add was layout-only (``dataChange: false``,
        optimize output) is re-tagged as a data change: relative to the
        pre-restore table its rows genuinely (re)appear, and the CDC
        feed must say so — :meth:`read_changes` across the restore nets
        to exactly the row diff between the two snapshots.

        Conflicts: ANY intervening commit (even layout-only — it may
        remove files this restore re-adds by reference) invalidates the
        plan; the caller re-runs against the fresh head.
        """
        rv, meta, live = self._snapshot(raw=True)
        _, old_meta, old_live = self._snapshot(version, raw=True)
        removes = sorted(p for p in live if p not in old_live)
        readds = {p: a for p, a in old_live.items() if p not in live}
        fs = _fs(self.spark, self.path)
        missing = sorted(
            p for p in readds
            if not fs.exists(_jpath(self.spark, self._abs(p))))
        if missing:
            raise ValueError(
                f"cannot restore {self.path} to version {version}: files "
                f"{missing} were vacuumed; restores reach only as far back "
                f"as vacuum retention preserves")
        actions: list[dict] = (
            [{"meta": old_meta}] if old_meta != meta else [])
        actions += [{"remove": {"path": p}} for p in removes]
        for p in sorted(readds):
            add = dict(readds[p])
            add.pop("dataChange", None)  # rows reappear: a data change
            tgt_dv = add.pop("dv", None)  # re-establish tombstones below
            actions.append({"add": add})
            if tgt_dv:
                actions.append({"dv": {"path": p,
                                       "keyCols": tgt_dv["keyCols"],
                                       "keys": tgt_dv["keys"]}})
        # Deletion-vector reconciliation for files live in BOTH
        # snapshots: target tombstones the current state lacks are
        # re-applied with a dv action; tombstones that must be UNDONE
        # (rows re-appearing) need a clean slate — remove + re-add (the
        # fold clears DVs on re-add) + the target's dv set. Commit
        # actions fold in order, so this is one atomic commit, and the
        # CDC walk nets it to exactly the visible row diff.
        for p in sorted(set(live) & set(old_live)):
            cur_dv, tgt_dv = live[p].get("dv"), old_live[p].get("dv")
            cur_keys = {tuple(k) for k in (cur_dv or {"keys": []})["keys"]}
            tgt_keys = {tuple(k) for k in (tgt_dv or {"keys": []})["keys"]}
            if cur_keys == tgt_keys:
                continue
            if cur_keys <= tgt_keys:
                extra = dv_minus(tgt_dv, cur_dv)
                actions.append({"dv": {"path": p,
                                       "keyCols": tgt_dv["keyCols"],
                                       "keys": extra}})
                continue
            add = dict(old_live[p])
            add.pop("dataChange", None)
            add.pop("dv", None)
            actions.append({"remove": {"path": p}})
            actions.append({"add": add})
            if tgt_dv:
                actions.append({"dv": {"path": p,
                                       "keyCols": tgt_dv["keyCols"],
                                       "keys": tgt_dv["keys"]}})
        if not actions:
            return self.version  # already at that snapshot: no-op

        def no_concurrency(intervening):
            raise TxConflict(
                f"concurrent commit advanced {self.path} past the snapshot "
                f"this restore was planned on; re-run the restore")

        return self._commit(actions, rv, validate=no_concurrency,
                            info={"op": "restore"})

    def optimize(self, target_rows: int = 1_000_000,
                 zorder_by: Sequence[str] | None = None,
                 zorder_bits: int = 12,
                 partition_values: dict | None = None) -> int:
        """Bin-pack small live files into ~``target_rows``-row files in one
        atomic commit (the public Delta OPTIMIZE contract).

        ``zorder_by=(x_col, y_col)`` additionally clusters the packed
        rows on the Morton curve (Delta's OPTIMIZE ZORDER BY): the
        rewrite range-partitions on :func:`..zorder.zvalue` and sorts
        within files, so every packed file's (x, y) min/max stats form a
        bounded rectangle and :meth:`merge_upsert`'s stat-range pruning
        skips files on EITHER dimension — turning the compaction pass
        into a data-skipping upgrade for the same single shuffle. The
        columns must be non-negative integers below ``2**zorder_bits``
        (the :func:`..zorder.zvalue` domain contract; out-of-domain rows
        raise rather than silently corrupt the layout).

        Streaming ingest commits one small file per micro-batch; a year of
        5-minute batches is ~100k files whose open/footer cost dominates
        every scan. Compaction picks the live files with fewer than
        ``target_rows`` rows (from the log's per-file ``numRecords`` — no
        data read to plan), rewrites just those into
        ``ceil(total_rows / target_rows)`` files, and commits the swap with
        ``dataChange: false`` on every action: :meth:`read` sees the exact
        same rows, time travel to older versions still reads the original
        files, and :meth:`read_changes` / the ``txlog_cdc`` stream emit
        NOTHING for the compaction commit (a consumer is not re-fed rows
        because the layout improved). Per-file stats are recomputed for the
        packed files, so stat-range pruning keeps working after the swap.

        Concurrency: a concurrent merge that rewrites one of the files
        being compacted removes it first, which invalidates this commit's
        read set — ``_commit`` raises :class:`TxConflict` (re-run on the
        fresh snapshot). Concurrent appends/merges over OTHER files
        commute and need no retry.

        ``partition_values={col: value}`` scopes the pass to the
        matching partitions (the public Delta ``OPTIMIZE ... WHERE``
        shape — partition predicates only): a hot partition compacts
        without replanning the cold lake; values type-validate like
        every other partition selector.

        Returns the new version, or the current one when fewer than two
        files qualify (nothing to pack)."""
        rv, meta, live = self._snapshot()
        pcols = meta.get("partition_cols") or []
        if partition_values:
            partition_values = _typed_partition_values(
                partition_values, meta, self.path)
            live = {p: a for p, a in live.items()
                    if all((a.get("partitionValues") or {}).get(c) == v
                           for c, v in partition_values.items())}
        dvs = self._live_dvs(live)
        # tombstoned files ALWAYS qualify: rewriting them materializes
        # the deletion vectors away (visible rows unchanged, so the
        # swap stays layout-only and the change feed stays silent)
        small = sorted(p for p, add in live.items()
                       if add.get("numRecords", target_rows) < target_rows
                       or p in dvs)
        if len(small) < 2 and not (small and small[0] in dvs):
            return rv
        total = sum(live[p].get("numRecords", 0) for p in small)
        n_out = max(1, -(-total // target_rows))
        if zorder_by is None and not pcols and n_out >= len(small):
            return rv  # already at (or below) the achievable file count
        packed = self._scan_files(meta, small, dvs=dvs)
        if zorder_by is not None:
            from .zorder import zvalue
            xc, yc = zorder_by
            packed = (packed
                      .withColumn("__z", zvalue(F.col(xc), F.col(yc),
                                                bits=zorder_bits))
                      .repartitionByRange(n_out, "__z")
                      .sortWithinPartitions("__z")
                      .drop("__z"))
        elif pcols:
            # partitioned tables pack WITHIN partitions (a packed file
            # cannot span partition directories): hash-cluster the small
            # files' rows by partition so the partitionBy write emits
            # one file per hive partition per holding task
            packed = packed.repartition(n_out, *pcols)
        else:
            packed = packed.repartition(n_out)
        actions = [{"remove": {"path": p, "dataChange": False}}
                   for p in small]
        actions += self._stage(packed, meta.get("stat_cols", []),
                               data_change=False,
                               bloom=meta.get("bloom"),
                               constraints=self._write_constraints(meta),
                               partition_cols=pcols,
                               colmap=meta.get("column_mapping"))
        return self._commit(actions, rv, info={"op": "optimize"})

    def repartition_table(self, partition_cols: Sequence[str] = (),
                          target_rows: int = 1_000_000) -> int:
        """Change the table's partition LAYOUT in one atomic,
        layout-only commit: every live file is rewritten under the new
        ``partition_cols`` (empty = flat) with ``dataChange: false`` on
        every action, so the change feed stays SILENT, the fold
        invariant holds (the visible row multiset is untouched), and
        time travel to pre-change versions still reads the original
        files under the original layout. Live deletion vectors
        materialize away in the same pass (the OPTIMIZE precedent).

        This is the honest Delta-model answer to partition evolution:
        one full rewrite — the cost Delta documents for its own
        "overwrite with new partitioning" procedure — but in place,
        history-preserving, and invisible to CDC consumers; afterwards
        every keyed planner partition-prunes on the new layout (and
        derived bounds fire if the new partition column is GENERATED).
        Old partition columns return into the data files; new ones
        move out into ``key=value/`` paths.

        Conflicts with ANY concurrent data-changing commit (the
        rewrite read the whole table). Partitioning a table whose
        protocol predates partitions upgrades it in the same commit."""
        rv, meta, live = self._snapshot()
        new_p = list(partition_cols or ())
        names = {f["name"] for f in meta["schema"]["fields"]}
        bad = sorted(set(new_p) - names)
        if bad:
            raise ValueError(f"partition columns {bad} not in schema "
                             f"{sorted(names)}")
        overlap = sorted(set(new_p) & set(meta.get("identity") or {}))
        if overlap:
            raise ValueError(f"identity column(s) {overlap} cannot be "
                             f"partition columns")
        cm = meta.get("column_mapping") or {}
        renamed = sorted(c for c in new_p if cm.get(c, c) != c)
        if renamed:
            raise ValueError(
                f"cannot partition {self.path} by renamed column(s) "
                f"{renamed}: partition columns are encoded by NAME in "
                f"file paths and partitionValues, which column mapping "
                f"cannot indirect (the Delta rule — pick columns whose "
                f"physical name equals the logical one)")
        if new_p and len(new_p) == len(names):
            raise ValueError("cannot partition by every column: files "
                             "would hold no data columns")
        if new_p == (meta.get("partition_cols") or []):
            return self.version
        new_meta = dict(meta)
        if new_p:
            new_meta["partition_cols"] = new_p
        else:
            new_meta.pop("partition_cols", None)
        actions: list[dict] = []
        if new_p and needs_upgrade(getattr(self, "_proto", None),
                                   PARTITION_PROTOCOL):
            actions.append(protocol_action(merged_protocol(
                getattr(self, "_proto", None), PARTITION_PROTOCOL)))
        actions.append({"meta": new_meta})
        if live:
            data = self._scan_files(meta, sorted(live),
                                    dvs=self._live_dvs(live))
            total = sum(a.get("numRecords", 0) for a in live.values())
            n_out = max(1, -(-total // target_rows))
            data = (data.repartition(n_out, *new_p) if new_p
                    else data.repartition(n_out))
            actions += [{"remove": {"path": p, "dataChange": False}}
                        for p in sorted(live)]
            actions += self._stage(
                data, meta.get("stat_cols", []), data_change=False,
                bloom=meta.get("bloom"),
                constraints=self._write_constraints(new_meta),
                partition_cols=new_p,
                colmap=meta.get("column_mapping"))

        def no_data_change(intervening):
            for a in intervening:
                if (("add" in a and a["add"].get("dataChange", True))
                        or ("remove" in a
                            and a["remove"].get("dataChange", True))
                        or "dv" in a or "meta" in a):
                    raise TxConflict(
                        f"concurrent commit changed {self.path} under "
                        f"this repartition's full-table rewrite; re-run "
                        f"on the new snapshot")
        return self._commit(actions, rv, validate=no_data_change,
                            info={"op": "repartition_table",
                                  "partition_cols": new_p})

    def fsck(self, scan_orphans: bool = True,
             verify_row_counts: bool = False) -> dict:
        """Audit the table's physical state against its log — the
        operational complement of :meth:`repair_torn_commit` (the same
        role Delta's FSCK plays). Read-only; never mutates.

        Checks, in declared-cost order:

        - every commit file parses under the tear-detecting wire format
          (``torn_commits``) and the version sequence has no holes
          (``missing_commits``) — O(log) driver-side reads;
        - every checkpoint validates its count trailer
          (``torn_checkpoints``) — torn checkpoints only cost fold
          speed, never correctness, so they are reported, not fatal;
        - every LIVE file referenced by the current snapshot exists on
          disk (``missing_files`` — these are data loss: reads will
          fail; restore from a replica or time-travel past the commit
          that added them) — one directory listing;
        - ``scan_orphans``: data files on disk referenced by NO commit
          in the whole log (``unreferenced_files`` — in-flight writer
          staging or leaked temp data; :meth:`vacuum` reclaims them
          after retention). Files referenced only by PAST versions are
          time-travel state, not orphans, and are not reported;
        - ``verify_row_counts``: one Spark job reading every live file,
          comparing actual row counts against the log's ``numRecords``
          (``rowcount_mismatches``) AND recorded min/max/null stats
          against recomputed ones (``stat_mismatches`` — drifted stats
          silently mis-prune keyed DML, the worst failure class) — the
          only check that touches data, cost one scan of the live
          table, one row per FILE collected.

        ``ok`` is True iff nothing torn/missing/mismatched. When a torn
        commit prevents folding an exact snapshot, ``snapshot_exact`` is
        False and live-file checks run on the fold that treats the torn
        commit as empty (the post-repair state).
        """
        commits, ckpts = log_listing(self._io)  # ONE listing: no races
        if not commits:
            raise ValueError(f"{self.path} has no commits")
        latest = max(commits)
        torn_commits, missing_commits = [], []
        # the shared fold step over EVERY commit from 0 (no checkpoint
        # shortcut), a torn commit folding as empty (the post-repair
        # state)
        st = LogState()
        referenced: set[str] = set()
        for v in range(latest + 1):
            if v not in commits:
                missing_commits.append(v)
                continue
            try:
                actions = read_commit(self._io, v)
            except TxCorruption:
                torn_commits.append(v)
                continue
            for a in actions:
                if "add" in a:
                    referenced.add(a["add"]["path"])
                st.apply(a)
        live, proto, fmeta = st.live, st.protocol, st.meta
        torn_checkpoints = []
        for c in ckpts:
            try:
                read_checkpoint(self._io, c)
            except Exception:
                torn_checkpoints.append(c)
        on_disk = {rel for rel, _mtime in self._list_data_files()}
        dfs = _fs(self.spark, self.path)
        missing_files = sorted(
            p for p in live
            if (not dfs.exists(_jpath(self.spark, self._abs(p)))
                if (p.startswith("/") or "://" in p)  # cloned: stat it
                else p not in on_disk))
        # fsck REPORTS the protocol instead of raising on it (the audit
        # must stay runnable by any client); reads/writes are where the
        # gate refuses.
        supported = True
        try:
            check_protocol(proto, self.path, reader=SUPPORTED_READER,
                           writer=SUPPORTED_WRITER)
        except TxProtocolError:
            supported = False
        report = {
            "version": latest,
            "torn_commits": torn_commits,
            "missing_commits": missing_commits,
            "torn_checkpoints": torn_checkpoints,
            "snapshot_exact": not torn_commits and not missing_commits,
            "live_files": len(live),
            "missing_files": missing_files,
            "protocol": dict(proto or BASE_PROTOCOL),
            "protocol_supported": supported,
        }
        if fmeta.get("column_mapping"):
            report["column_mapping"] = dict(fmeta["column_mapping"])
        if fmeta.get("identity"):
            # log-only audit (zero jobs): every identity high-water mark
            # must bound the live files' recorded stats — a lost hwm
            # bump would re-allocate ids already on disk
            cmap = fmeta.get("column_mapping") or {}
            bad = []
            for c, s in fmeta["identity"].items():
                step, hwm = int(s.get("step", 1)), s.get("hwm")
                pc = cmap.get(c, c)
                ext = [a["stats"][pc][1 if step > 0 else 0]
                       for a in live.values()
                       if pc in (a.get("stats") or {})
                       and a["stats"][pc][1 if step > 0 else 0]
                       is not None]
                if not ext:
                    continue
                lim = max(ext) if step > 0 else min(ext)
                if hwm is None or (step > 0 and int(hwm) < int(lim)) \
                        or (step < 0 and int(hwm) > int(lim)):
                    bad.append((c, hwm, int(lim)))
            report["identity"] = {c: dict(s)
                                  for c, s in fmeta["identity"].items()}
            if bad:
                report["identity_hwm_violations"] = sorted(bad)
        dv_live = [p for p, a in live.items() if a.get("dv")]
        if dv_live:
            report["dv_files"] = sorted(dv_live)
        if scan_orphans:
            report["unreferenced_files"] = sorted(on_disk - referenced)
        present = [p for p in live if p not in set(missing_files)]
        if verify_row_counts and present:
            # one scan verifies BOTH recorded row counts and recorded
            # min/max/null stats. Stat drift is the nastier failure:
            # wrong stats make the merge/delete planners SKIP files that
            # hold matching keys — silently wrong DML, not a crash.
            vmeta = (self._snapshot()[1]
                     if supported and not torn_commits
                     and not missing_commits else {})
            # column-mapped tables: this pass reads RAW files (physical
            # column names) against the RAW fold's add actions (physical
            # stat keys) — stat_cols translate logical→physical once
            cmap = vmeta.get("column_mapping") or {}
            stat_cols = [cmap.get(c, c)
                         for c in vmeta.get("stat_cols", [])]
            aggs = [F.count(F.lit(1)).alias("_n")]
            for c in stat_cols:
                aggs += [F.min(c).alias(f"_min_{c}"),
                         F.max(c).alias(f"_max_{c}"),
                         F.count(F.when(F.col(c).isNull(), 1))
                         .alias(f"_nulls_{c}")]
            n_pcols = len(vmeta.get("partition_cols") or ())
            resolve = self._path_resolver(present, n_pcols)
            # group by file ROOT (shallow clones reference absolute
            # source paths; partition materialization needs a basePath
            # ancestor per group — same discipline as _scan_files)
            by_root: dict[str, list[str]] = {}
            for p in present:
                root = (("/".join(p.split("/")[:-(n_pcols + 1)])
                         if (p.startswith("/") or "://" in p)
                         else self.path) if n_pcols else self.path)
                by_root.setdefault(root, []).append(p)
            rows = {}
            for root, grp in sorted(by_root.items()):
                reader = self.spark.read
                if n_pcols:
                    # partition columns materialize from paths so their
                    # recorded (exact) values can be re-verified too
                    reader = reader.option("basePath", root)
                rows.update({
                    resolve(r["_file"]): r
                    for r in reader.parquet(
                        *[self._abs(p) for p in grp])
                    .withColumn("_file", self._file_expr(n_pcols))
                    .groupBy("_file").agg(*aggs)
                    .collect()})
            report["rowcount_mismatches"] = sorted(
                (p, live[p].get("numRecords"),
                 int(rows[p]["_n"]) if p in rows else 0)
                for p in present
                if (int(rows[p]["_n"]) if p in rows else 0)
                != live[p].get("numRecords"))
            stat_bad = []
            for p in present:
                r, rec = rows.get(p), live[p]
                if r is None:
                    continue  # already a rowcount mismatch
                for c in stat_cols:
                    stats = (rec.get("stats") or {}).get(c)
                    nulls = (rec.get("nullCounts") or {}).get(c)
                    if stats is None:
                        continue  # pre-stat or schema-evolved file: the
                        # planners already treat missing stats as
                        # "always overlaps", which is safe
                    actual = [stat_scalar(r[f"_min_{c}"]),
                              stat_scalar(r[f"_max_{c}"])]
                    if stats != actual or (
                            nulls is not None
                            and nulls != int(r[f"_nulls_{c}"])):
                        stat_bad.append((p, c, stats, actual))
            report["stat_mismatches"] = sorted(stat_bad)
        report["ok"] = (not torn_commits and not missing_commits
                        and not missing_files
                        and not report.get("identity_hwm_violations")
                        and not report.get("rowcount_mismatches")
                        and not report.get("stat_mismatches"))
        return report

    def _clone_protected(self) -> dict[str, list[str]]:
        """{relpath: [clone targets]} of files a REGISTERED live clone
        still references inside this table root. Clone registrations
        are ``clone_ref`` info actions :meth:`clone` publishes into the
        source's own log; each registered clone's CURRENT live set is
        folded (driver-sized, and a clone that optimized itself fully
        local protects nothing). A clone whose log is gone (deleted
        experiment) or unreadable (protocol-newer client required)
        drops out of the guard — gone means gone; unreadable is
        conservative the other way and reported by the caller."""
        targets: list[str] = []
        for i in range(self.version + 1):
            for a in read_commit(self._io, i):
                info = a.get("info") or {}
                if info.get("op") == "clone_ref":
                    targets.append(info["target"])
        prefix = f"{self.path}/"
        protected: dict[str, list[str]] = {}
        for tgt in dict.fromkeys(targets):  # de-dup, keep order
            try:
                _, _, cl_live = TxTable(self.spark, tgt)._snapshot(
                    raw=True)
            except ValueError:
                continue  # clone deleted: nothing to protect
            except (TxProtocolError, TxCorruption):
                continue  # unreadable clone: cannot prove references
            for p in cl_live:
                if p.startswith(prefix):
                    protected.setdefault(p[len(prefix):], []).append(tgt)
        return protected

    def vacuum(self, retention_seconds: float = 7 * 24 * 3600,
               respect_clones: bool = True,
               dry_run: bool = False) -> list[str]:
        """Delete data files unreferenced by the CURRENT version (destroys
        time travel to versions that needed them). Returns deleted names.

        ``retention_seconds`` mirrors the public Delta retention window: a
        writer renames staged part files into the table root BEFORE
        publishing its commit, so an unreferenced-but-young file may belong
        to an in-flight append/merge. Only files whose modification time is
        older than the retention threshold are deleted; pass ``0`` only
        when no writer can be concurrent (e.g. tests). Even with the
        guard, do not run vacuum concurrently with writers that may stall
        longer than the retention window.

        ``respect_clones=True`` (default, round-14): files a REGISTERED
        shallow clone still references are SKIPPED, with a warning
        naming the clones — closing the public Delta caveat where a
        source vacuum silently breaks its clones (every clone created
        by :meth:`clone` registers itself in this log). Pass
        ``respect_clones=False`` to restore the raw Delta behavior
        (delete anyway — the clones' fsck will report the damage);
        clones made by older writers (no registration) are never seen
        by the guard either way.

        ``dry_run=True`` (the public Delta ``VACUUM ... DRY RUN``):
        return the list of files vacuum WOULD delete without touching
        anything — same retention and clone rules."""
        _, _, live = self._snapshot()
        protected = self._clone_protected() if respect_clones else {}
        fs = _fs(self.spark, self.path)
        cutoff_ms = (time.time() - retention_seconds) * 1000.0
        deleted = []
        skipped: dict[str, list[str]] = {}
        # recursive: partitioned layouts keep data under key=value/
        # subpaths, and converted tables reference files under their
        # original names — all must be reclaimable once superseded
        for rel, mtime in self._list_data_files():
            if rel not in live and mtime < cutoff_ms:
                if rel in protected:
                    skipped[rel] = protected[rel]
                    continue
                if not dry_run:
                    fs.delete(_jpath(self.spark, f"{self.path}/{rel}"),
                              False)
                deleted.append(rel)
        if skipped:
            import warnings
            warnings.warn(
                f"vacuum of {self.path} skipped {len(skipped)} file(s) "
                f"still referenced by shallow clone(s) "
                f"{sorted({t for ts in skipped.values() for t in ts})}; "
                f"pass respect_clones=False to delete anyway (breaks "
                f"those clones)", stacklevel=2)
        # superseded checkpoints are derived artifacts: keep only the
        # newest. Correctness never depended on them (a fold without a
        # usable checkpoint falls back to the commits, which are never
        # deleted) — old-version time travel just folds longer. Same
        # retention guard so a checkpoint mid-publish by a concurrent
        # writer survives.
        listed = self._io.list()
        for c in self._checkpoint_versions()[:-1]:
            name = checkpoint_name(c)
            if name in listed and listed[name] * 1000.0 < cutoff_ms:
                if not dry_run:
                    fs.delete(_jpath(self.spark, f"{self.log_dir}/{name}"),
                              False)
                deleted.append(name)
        return sorted(deleted)
