"""The txlog table format's log: wire protocol, replay core, commit loop.

Every reader and writer of a ``_txlog`` directory — :class:`TxTable`
(``operators/txlog.py``) and the plain-IO ``txlog`` / ``txlog_cdc``
DataSources (``sources/txlog_batch.py``, ``sources/txlog_stream.py``) —
goes through this module for every log-format decision:

- the commit wire format (count trailer, tear detection, repair);
- the protocol version gate;
- the log layout (``LOG_DIR``, file names);
- the replay core over an injected log IO object: the snapshot fold
  (:func:`replay`), the checkpoint parser and writer
  (:func:`read_checkpoint`, :func:`write_checkpoint`), time travel
  (:func:`version_at`) and the change-window walk
  (:func:`walk_changes`);
- the one optimistic commit loop (:func:`commit`): the rules a commit
  obeys against intervening commits, the ``txn`` ledger check, the
  in-commit timestamp, the exclusive publish and the checkpoint
  cadence (the ``checkpointInterval`` table property). Commit files
  are written only here: :func:`publish` (commit 0 of a new table and
  every :func:`commit`) and :func:`repair_commit`.

The log IO object has exactly two implementations: :class:`LocalLogIO`
(plain ``os`` IO, every local path) and :class:`HadoopLogIO` (Hadoop
FileSystem over py4j, only for ``scheme://`` paths). Both expose
``list() -> {name: mtime_s}``, ``read(name) -> bytes`` and
``write(name, data, replace=False) -> bool``.

Torn commits. Local-path publishes are atomic (tmp + hard link) and
can never tear; the non-local branch claims the version with
``create(overwrite=False)`` and then streams the payload, so a writer
dying in between leaves a claimed version whose file is empty or
truncated — the documented Delta-on-HDFS window (PROTOCOL.md
"LogStore" in the public delta-io/delta repo describes the same store
requirement).

The defense is the same count-trailer discipline the checkpoint files
use (:func:`write_checkpoint`): every commit payload ends with
``{"commit": {"actions": N}}``. Tears are then detectable in all
three forms —

- **empty file** (died right after the claim): zero lines, no trailer;
- **mid-line tear** (died mid-stream): last line fails to JSON-parse;
- **line-boundary tear** (flushed a prefix of whole lines): every
  surviving line parses, but the trailer is gone — which is exactly why
  the trailer is REQUIRED, not optional: a trailer-less commit is
  indistinguishable from a boundary tear, so "legacy acceptance" would
  be a silent-corruption hole. This format owns its files end to end
  (no pre-trailer tables ship anywhere), so strictness costs nothing.

A live writer's claim looks the same as an empty tear until its payload
lands, so :class:`HadoopLogIO` re-reads an empty file for up to
``CLAIM_SETTLE_S`` before handing it to the tear check; a file still
empty past that bound is torn.

Readers raise :class:`TxCorruption` — loud, naming the repair — rather
than folding a wrong snapshot. Recovery is :func:`repair_commit`
(``TxTable.repair_torn_commit``): the dead writer's :func:`commit`
never returned, so its actions were never acknowledged, and rewriting
the torn file as an explicit empty commit (trailer-only, ``repaired``
flag) is the unique history consistent with what callers observed.

Stdlib-only on purpose: the streaming/batch DataSources replay the log
inside executor Python workers, where a pyspark import chain would be
dead weight (:class:`HadoopLogIO` is duck-typed on the session it is
handed).
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import time
import uuid
from typing import NamedTuple

# ------------------------------------------------------------- log layout
LOG_DIR = "_txlog"
CKPT_SUFFIX = ".checkpoint.json"

#: Auto-write a snapshot checkpoint every N commits. 10 matches the
#: public Delta default; at a commit-per-micro-batch streaming cadence
#: this bounds every snapshot fold to <= 10 commit reads no matter how
#: old the table gets. (The ``checkpointInterval`` table property
#: overrides it for every writer, see :func:`commit`.)
CHECKPOINT_INTERVAL = 10

#: Seconds a claim-then-write reader (:class:`HadoopLogIO`) keeps
#: re-reading an EMPTY file before treating it as torn: another
#: writer's claim is empty until its payload lands, which takes
#: milliseconds; a writer that died after the claim never fills it.
CLAIM_SETTLE_S = 2.0


def commit_name(version: int) -> str:
    return f"{version:020d}.json"


def checkpoint_name(version: int) -> str:
    return f"{version:020d}{CKPT_SUFFIX}"


# Bumped when the commit-file wire format changes shape. v2 = the
# required count trailer. Folded into the on-disk artifact cache keys
# (weather star, ANN index) so caches written under an older protocol
# are rebuilt, not rejected.
TXPROTO_VERSION = 2

# ---------------------------------------------------------------- protocol
# The log-level protocol action (the public Delta ``protocol`` action,
# PROTOCOL.md "Protocol Evolution"): every table declares the MINIMUM
# reader/writer capability required to fold its log correctly, stamped
# at commit 0 and upgraded in the same atomic commit as the first use
# of a newer feature. Clients compare BEFORE acting and refuse with a
# named error instead of folding a snapshot they cannot interpret —
# the next wire-format change becomes a declared version gate, not a
# bet on parser strictness.
#
# Version ladder (this format's own history):
#   reader 1 / writer 2 — base: count-trailer commit wire format;
#   reader 2 / writer 2 — partitioned tables (``partitionValues`` on
#                         add actions; data files lack the partition
#                         columns, so a v1 reader would null-fill them);
#   reader 3 / writer 3 — deletion vectors (``dv`` actions; a v2
#                         reader would resurrect deleted rows, a v2
#                         writer would rewrite files without applying
#                         live DVs);
#   reader 4 / writer 4 — column mapping (the public Delta
#                         columnMapping 'name' mode: data files store
#                         PHYSICAL column names, ``meta["column_
#                         mapping"]`` maps logical→physical; a v3
#                         reader would surface physical names and miss
#                         renames/drops, a v3 writer would stage files
#                         under logical names old files don't share).
#   reader 4 / writer 5 — write-side invariants (generated columns,
#                         identity columns, the appendOnly property —
#                         the public Delta writer-feature trio): READS
#                         are unaffected (files are plain data), but a
#                         v4 writer would stage rows without computing
#                         generated columns, allocate no identity
#                         values / never advance the high-water mark,
#                         and delete from append-only tables — all
#                         silent invariant breaks, so writers gate.
SUPPORTED_READER = 4
SUPPORTED_WRITER = 5
BASE_PROTOCOL = {"minReader": 1, "minWriter": 2}
PARTITION_PROTOCOL = {"minReader": 2, "minWriter": 2}
DV_PROTOCOL = {"minReader": 3, "minWriter": 3}
COLMAP_PROTOCOL = {"minReader": 4, "minWriter": 4}
WRITE_FEATURES_PROTOCOL = {"minReader": 1, "minWriter": 5}


class TxProtocolError(RuntimeError):
    """The table's declared protocol exceeds this client's capability.

    Upgrade the client (or read through a TxTable of this package
    version, which supports everything it writes); never work around
    this error by parsing the log directly.
    """


def canon_temporal(v):
    """Canonicalize the two string spellings of a timestamp so stat
    compares stay SOUND: per-file stats store ``datetime.isoformat()``
    (``T`` separator), while hive partition directory values — and
    therefore ``partitionValues`` — use Spark's path form (space
    separator). ``T`` (0x54) sorts AFTER every digit while space (0x20)
    sorts before, so comparing the two spellings directly mis-orders
    equal instants — a prune built on that comparison can skip a
    matching file. Every stat-vs-partitionValue (and derived-bound)
    compare canonicalizes BOTH sides through this first; non-temporal
    values pass through untouched."""
    if (isinstance(v, str) and len(v) >= 11 and v[10] == "T"
            and v[4] == "-" and v[7] == "-"):
        return v[:10] + " " + v[11:]
    return v


def stat_scalar(v):
    """JSON-encode a stat value losslessly enough to round-trip compares.

    Stats are *advisory bounds* — a lossy bound may only widen pruning
    (keep a file), never skip a file that could match, so unknown types
    degrade to ``None`` (= "no stats, always a candidate")."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return None


def protocol_action(proto: dict) -> dict:
    return {"protocol": {"minReader": int(proto["minReader"]),
                         "minWriter": int(proto["minWriter"])}}


def needs_upgrade(current: dict | None, wanted: dict) -> bool:
    """True when a commit must carry a protocol action to raise the
    table's declared capability to ``wanted``. Tables created before
    the protocol action existed (current=None) are implicitly base."""
    cur = current or BASE_PROTOCOL
    return (int(cur.get("minReader", 1)) < wanted["minReader"]
            or int(cur.get("minWriter", 1)) < wanted["minWriter"])


def merged_protocol(current: dict | None, wanted: dict) -> dict:
    cur = current or BASE_PROTOCOL
    return {"minReader": max(int(cur.get("minReader", 1)),
                             wanted["minReader"]),
            "minWriter": max(int(cur.get("minWriter", 1)),
                             wanted["minWriter"])}


def check_protocol(proto: dict | None, where: str, *,
                   reader: int | None = None,
                   writer: int | None = None) -> None:
    """Raise :class:`TxProtocolError` when the table's declared protocol
    exceeds the CLIENT capability passed in ``reader``/``writer`` (None
    = the client is not acting in that role). A table with no protocol
    action (pre-protocol logs) is implicitly base and always passes."""
    if not proto:
        return
    need_r = int(proto.get("minReader", 1))
    need_w = int(proto.get("minWriter", 1))
    if reader is not None and need_r > reader:
        raise TxProtocolError(
            f"{where}: table requires minReader={need_r} but this client "
            f"supports reader version {reader}; refusing to fold a "
            f"snapshot it cannot interpret (upgrade the reading client)")
    if writer is not None and need_w > writer:
        raise TxProtocolError(
            f"{where}: table requires minWriter={need_w} but this client "
            f"supports writer version {writer}; refusing to publish a "
            f"commit that could corrupt invariants it does not know "
            f"(upgrade the writing client)")


# ------------------------------------------------------- partitioned paths
# Hive-path helpers shared by every client tier (TxTable planners and
# the plain-IO DataSources, which run inside executor Python workers —
# stdlib-only on purpose, like the rest of this module).

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def unquote_path(name: str) -> str:
    """Decode a scanned file path component (URI-escaped by Spark's
    ``input_file_name``) back to the on-disk relative path the log
    references. Hadoop escapes ``%`` itself when writing partition
    directories, so one unquote is exact."""
    from urllib.parse import unquote
    return unquote(name)


def partition_scalar(raw: str, type_name: str):
    """One hive directory-segment value → typed scalar, matching Spark's
    own path decoding (percent-unescape, the null sentinel) and the
    stat-value JSON domain — so ``partitionValues`` compare directly
    against batch bounds with no casts (dates/timestamps stay isoformat
    strings, whose lexicographic order IS chronological order)."""
    from urllib.parse import unquote
    val = unquote(raw)
    if val == _HIVE_NULL:
        return None
    if type_name in ("byte", "short", "integer", "long"):
        return int(val)
    if type_name in ("float", "double"):
        return float(val)
    if type_name == "boolean":
        return val.lower() == "true"
    return val


def parse_partition_values(relpath: str, pcols, types: dict) -> dict:
    """``{col: typed value}`` from a hive relative path
    ``c1=v1/c2=v2/file.parquet``. Loud on any mismatch — a silently
    misparsed partition value would mis-prune every keyed operation."""
    segs = relpath.split("/")[:-1]
    if len(segs) != len(pcols):
        raise ValueError(
            f"path {relpath!r} has {len(segs)} partition segment(s) but "
            f"the table declares partition columns {list(pcols)}")
    out = {}
    for col, seg in zip(pcols, segs):
        name, eq, raw = seg.partition("=")
        if not eq or name != col:
            raise ValueError(
                f"path segment {seg!r} of {relpath!r} does not match "
                f"declared partition column {col!r}")
        out[col] = partition_scalar(raw, types[col])
    return out


_TRAILER_KEY = "commit"


class TxCorruption(RuntimeError):
    """A commit file is torn (empty / truncated / trailer mismatch).

    Raised instead of silently folding a wrong snapshot. After
    confirming no writer is in flight for that version, recover with
    ``TxTable.repair_torn_commit(version)``.
    """


class TxConflict(RuntimeError):
    """A concurrent commit invalidated this transaction's read set."""


def info_action(op: str, **extra) -> dict:
    """Commit provenance (the public Delta commitInfo shape, minimal):
    which operation produced the commit and when. Snapshot/CDC folds
    ignore unknown action keys; ``TxTable.describe_history`` surfaces
    it."""
    return {"info": {"op": op, "ts": round(time.time(), 3), **extra}}


def commit_payload(actions: list[dict]) -> str:
    """Serialize actions + the count trailer as the full commit file
    content. The trailer MUST be produced here (single choke point) so
    every publish path — batch DML, checkpoint-era appends, repairs —
    writes a tear-detectable file."""
    lines = [json.dumps(a, sort_keys=True) for a in actions]
    lines.append(json.dumps({_TRAILER_KEY: {"actions": len(actions)}},
                            sort_keys=True))
    return "\n".join(lines)


def repair_payload() -> str:
    """The canonical no-op commit a repair writes over a torn file:
    trailer-only, flagged for audit. Idempotent — repairing twice
    rewrites identical content."""
    return json.dumps({_TRAILER_KEY: {"actions": 0, "repaired": True}},
                      sort_keys=True)


def parse_commit_lines(raw_lines: list[str], where: str) -> list[dict]:
    """Validate + strip the trailer; return the action list.

    ``where`` names the file in errors (path@version). Raises
    :class:`TxCorruption` on any tear signature; never returns a
    partial action list.
    """
    lines = [ln for ln in raw_lines if ln.strip()]
    if not lines:
        raise TxCorruption(
            f"{where}: commit file is EMPTY — a writer died inside the "
            "claim-then-write window. If no writer is in flight for this "
            "version, run TxTable.repair_torn_commit() to convert it to "
            "an explicit no-op commit.")
    try:
        actions = [json.loads(ln) for ln in lines]
    except ValueError as exc:
        raise TxCorruption(
            f"{where}: commit file is TRUNCATED mid-record ({exc}) — a "
            "writer died inside the claim-then-write window. If no "
            "writer is in flight for this version, run "
            "TxTable.repair_torn_commit().") from exc
    trailer = actions[-1]
    if not (isinstance(trailer, dict) and _TRAILER_KEY in trailer):
        raise TxCorruption(
            f"{where}: commit file has no count trailer — either torn at "
            "a line boundary or written by a pre-v2 writer; both fold to "
            "the same evidence, so it is treated as torn. Repair with "
            "TxTable.repair_torn_commit() (pre-v2 logs: re-create the "
            "table; no shipped artifact predates v2).")
    declared = trailer[_TRAILER_KEY].get("actions")
    if declared != len(actions) - 1:
        raise TxCorruption(
            f"{where}: commit trailer declares {declared} actions but "
            f"{len(actions) - 1} are present — torn or tampered file; "
            "repair with TxTable.repair_torn_commit().")
    return actions[:-1]


def is_torn(raw_lines: list[str]) -> bool:
    """True iff the content shows a tear signature (repair precondition)."""
    try:
        parse_commit_lines(raw_lines, "probe")
    except TxCorruption:
        return True
    return False


# ------------------------------------------------------------------ log IO
class LocalLogIO:
    """Plain ``os`` IO over ``<table>/_txlog`` — every local path.

    Publishes write a uuid-named ``.tmp`` (never listed) and then claim
    the name atomically: a hard link for an exclusive write (the
    local-FS model of an object store's put-if-absent, which is how the
    public Delta design publishes commits on S3/GCS), ``os.replace``
    for a replace. A file therefore appears with its COMPLETE content
    or not at all — local publishes can never tear."""

    def __init__(self, table: str):
        self.table = table
        self.dir = os.path.join(table, LOG_DIR)

    def list(self) -> dict[str, float]:
        """``{name: mtime_s}`` of the log's ``.json`` files ({} when the
        log directory does not exist). Mtimes are truncated to
        milliseconds, the resolution the Hadoop listing reports."""
        out: dict[str, float] = {}
        try:
            with os.scandir(self.dir) as it:
                for e in it:
                    if e.name.endswith(".json"):
                        try:
                            out[e.name] = (e.stat().st_mtime_ns
                                           // 1_000_000 / 1000.0)
                        except FileNotFoundError:
                            continue  # vacuumed mid-listing
        except FileNotFoundError:
            return {}
        return out

    def read(self, name: str) -> bytes:
        with open(os.path.join(self.dir, name), "rb") as fh:
            return fh.read()

    def write(self, name: str, data: bytes, replace: bool = False) -> bool:
        """Publish ``name`` with its complete content. Exclusive by
        default: False when the name is already taken (a lost race);
        ``replace=True`` swaps atomically over an existing file."""
        target = os.path.join(self.dir, name)
        if not replace and os.path.exists(target):
            return False
        tmp = os.path.join(self.dir, f"{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        if replace:
            os.replace(tmp, target)
            return True
        try:
            os.link(tmp, target)  # atomic: full content or nothing
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True


class HadoopLogIO:
    """Hadoop FileSystem IO over py4j — only for ``scheme://`` paths.

    An exclusive write claims the name with ``create(overwrite=False)``
    and then streams the payload (claim-then-write): a writer dying in
    between leaves a torn file, which the count trailers make
    detectable (see the module docstring). A read of an empty file
    waits up to ``CLAIM_SETTLE_S`` for an in-flight claim's payload."""

    def __init__(self, spark, table: str):
        self.table = table
        self.dir = f"{table}/{LOG_DIR}"
        self._jvm = spark._jvm
        self._fs = self._path().getFileSystem(
            spark._jsc.hadoopConfiguration())

    def _path(self, name: str | None = None):
        return self._jvm.org.apache.hadoop.fs.Path(
            self.dir if name is None else f"{self.dir}/{name}")

    def list(self) -> dict[str, float]:
        d = self._path()
        if not self._fs.exists(d):
            return {}
        out: dict[str, float] = {}
        for st in self._fs.listStatus(d):
            name = st.getPath().getName()
            if name.endswith(".json"):
                out[name] = st.getModificationTime() / 1000.0
        return out

    def read(self, name: str) -> bytes:
        deadline = time.monotonic() + CLAIM_SETTLE_S
        while True:
            stream = self._fs.open(self._path(name))
            try:
                data = bytes(self._jvm.org.apache.commons.io.IOUtils
                             .toByteArray(stream))
            finally:
                stream.close()
            if data or time.monotonic() >= deadline:
                return data
            time.sleep(0.01)

    def write(self, name: str, data: bytes, replace: bool = False) -> bool:
        target = self._path(name)
        if not replace and self._fs.exists(target):
            return False
        try:
            out = self._fs.create(target, replace)
        except Exception:
            # Only a lost race (another writer created the file between
            # the exists() check and create()) is retryable; any other
            # IO failure (permissions, disk full) must surface instead
            # of spinning a caller's optimistic loop forever.
            if not replace and self._fs.exists(target):
                return False
            raise
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return True


# ------------------------------------------------------------ replay core
def log_listing(io) -> tuple[dict[int, float], list[int]]:
    """One directory listing → ({commit version: mtime_s}, sorted
    checkpoint versions)."""
    commits: dict[int, float] = {}
    ckpts: list[int] = []
    for name, mtime in io.list().items():
        if name[:-5].isdigit():
            commits[int(name[:-5])] = mtime
        elif (name.endswith(CKPT_SUFFIX)
              and name[:-len(CKPT_SUFFIX)].isdigit()):
            ckpts.append(int(name[:-len(CKPT_SUFFIX)]))
    return commits, sorted(ckpts)


def _require_commits(io, commits: dict) -> int:
    if not commits:
        raise ValueError(f"{io.table} is not a txlog table (no commits "
                         f"in {LOG_DIR})")
    return max(commits)


def latest_version(io) -> int:
    """The newest committed version; ValueError when there is none."""
    return _require_commits(io, log_listing(io)[0])


def read_commit(io, version: int) -> list[dict]:
    """One commit's actions, tear-checked (:func:`parse_commit_lines`)."""
    return parse_commit_lines(
        io.read(commit_name(version)).decode("utf-8").splitlines(),
        f"{io.table}@v{version}")


def merge_dv(cur: dict | None, new: dict) -> dict:
    """Union two deletion-vector key sets for one file (same keyCols —
    enforced at commit; a second delete of an already-tombstoned key is
    deduplicated so CDC never double-emits it)."""
    if cur is None:
        return {"keyCols": list(new["keyCols"]),
                "keys": [list(k) for k in new["keys"]]}
    if list(cur["keyCols"]) != list(new["keyCols"]):
        raise ValueError(
            f"deletion vectors on one file must share key columns "
            f"({cur['keyCols']} vs {new['keyCols']})")
    seen = {tuple(k) for k in cur["keys"]}
    merged = [list(k) for k in cur["keys"]]
    merged += [list(k) for k in new["keys"] if tuple(k) not in seen]
    return {"keyCols": list(cur["keyCols"]), "keys": merged}


def dv_minus(cur: dict | None, sub: dict | None) -> list[list]:
    """Key tuples in ``cur`` not in ``sub`` (both optional DV dicts)."""
    if cur is None:
        return []
    drop = {tuple(k) for k in (sub or {"keys": []})["keys"]}
    return [list(k) for k in cur["keys"] if tuple(k) not in drop]


class LogState:
    """The running fold of log actions — the one step rule shared by
    checkpoint loads, snapshot replays and the fsck walk. The newest
    ``meta``/``protocol`` wins; ``add``/``remove`` maintain the live
    set; a ``dv`` accumulates tombstoned keys INTO the live add entry
    (never mutating it — checkpoints alias these dicts; a remove clears
    them, a re-add starts clean); a ``txn`` keeps the highest version
    per appId (versions only move forward)."""

    def __init__(self):
        self.meta: dict = {}
        self.live: dict[str, dict] = {}
        self.txns: dict[str, int] = {}
        self.protocol: dict | None = None

    def apply(self, action: dict) -> None:
        if "meta" in action:
            self.meta = action["meta"]
        elif "add" in action:
            self.live[action["add"]["path"]] = action["add"]
        elif "remove" in action:
            self.live.pop(action["remove"]["path"], None)
        elif "dv" in action:
            d = action["dv"]
            cur = self.live.get(d["path"])
            if cur is not None:
                self.live[d["path"]] = {**cur,
                                        "dv": merge_dv(cur.get("dv"), d)}
        elif "txn" in action:
            a, ver = action["txn"]["appId"], action["txn"]["version"]
            self.txns[a] = max(ver, self.txns.get(a, ver))
        elif "protocol" in action:
            self.protocol = action["protocol"]


class Snapshot(NamedTuple):
    version: int
    meta: dict
    live: dict        # {path: add action}, dvs folded in, physical keys
    txns: dict        # {appId: highest txn version}
    protocol: dict | None


def read_checkpoint(io, version: int):
    """Load a checkpoint → (meta, {path: add}, {appId: txn}, protocol).

    Raises ValueError on a torn file. The count trailer is what makes a
    newline-boundary truncation (possible on the non-local
    claim-then-write path) detectable: such a file still parses line by
    line but silently omits live files, so every fold built on it would
    drop rows with no error."""
    actions = [json.loads(line) for line in
               io.read(checkpoint_name(version)).decode("utf-8")
               .splitlines() if line.strip()]
    if not actions or actions[-1].get("count") != len(actions) - 1:
        raise ValueError(
            f"checkpoint {version} of {io.table} is torn (missing or "
            f"mismatched count trailer)")
    st = LogState()
    for action in actions[:-1]:
        st.apply(action)
    return st.meta, st.live, st.txns, st.protocol


def replay(io, version: int | None = None) -> Snapshot:
    """Fold the log at ``version`` (default: latest) from ONE directory
    listing, starting at the newest valid checkpoint at-or-before it —
    O(CHECKPOINT_INTERVAL) commit reads on a checkpointed table instead
    of O(version). A torn or unreadable checkpoint falls back to an
    older one or to commit 0; a torn commit raises
    :class:`TxCorruption`.

    The result is the RAW log state (column-mapped tables keep their
    physical-keyed artifacts). The protocol gate runs on every replay at
    the replayed version — time travel to a pre-upgrade snapshot stays
    readable by an older client, the public Delta rule."""
    commits, ckpts = log_listing(io)
    latest = _require_commits(io, commits)
    v = latest if version is None else version
    if not 0 <= v <= latest:
        raise ValueError(f"version {v} out of range 0..{latest}")
    st = LogState()
    start = 0
    for c in reversed([c for c in ckpts if c <= v]):
        try:
            st.meta, st.live, st.txns, st.protocol = read_checkpoint(io, c)
        except Exception:
            continue  # torn/unreadable checkpoint: older one or full fold
        start = c + 1
        break
    for i in range(start, v + 1):
        for action in read_commit(io, i):
            st.apply(action)
    if not st.meta:
        raise ValueError(f"{io.table}: no meta action found in the log")
    check_protocol(st.protocol, f"{io.table}@v{v}", reader=SUPPORTED_READER)
    return Snapshot(v, st.meta, st.live, st.txns, st.protocol)


def write_checkpoint(io, snap: Snapshot) -> int:
    """Materialize a RAW snapshot as its checkpoint file; returns its
    version. Idempotent: the content is a pure function of the
    immutable commits <= version, so a VALID existing checkpoint is
    kept, and a legacy (pre-count-trailer) or torn one is regenerated
    in place. Commit files are never deleted — time travel and change
    feeds keep reading them."""
    v, meta, live, txns, proto = snap
    # protocol FIRST (the Delta checkpoint convention): it must survive
    # checkpoint-accelerated folds — a fold starting past commit 0 would
    # otherwise silently bypass the version gate
    lines = ([json.dumps({"protocol": proto}, sort_keys=True)]
             if proto else [])
    lines.append(json.dumps({"meta": meta}, sort_keys=True))
    lines += [json.dumps({"txn": {"appId": a, "version": txns[a]}},
                         sort_keys=True) for a in sorted(txns)]
    lines += [json.dumps({"add": live[p]}, sort_keys=True)
              for p in sorted(live)]
    lines.append(json.dumps({"count": len(lines)}))
    name = checkpoint_name(v)
    exists = name in io.list()
    if exists:
        try:
            read_checkpoint(io, v)
            return v
        except Exception:
            pass  # legacy/torn: regenerate in place below
    # an exclusive write that loses a race lost it to equal content
    io.write(name, "\n".join(lines).encode("utf-8"), replace=exists)
    return v


def _ict_enabled(meta: dict) -> bool:
    return str((meta.get("properties") or {})
               .get("inCommitTimestamps", "")).lower() in ("true", "1")


def version_at(io, timestamp: float) -> int:
    """Resolve ``timestampAsOf``-style time travel: the latest version
    whose commit timestamp is at-or-before ``timestamp``.

    Default rule: commit file mtime IS the commit timestamp (the public
    Delta default). With the ``inCommitTimestamps`` table property on,
    the RECORDED provenance ts wins instead — publish stamps it
    strictly above the parent's, so the timeline is monotone under
    writer clock skew and survives log copies that reset mtimes. A
    commit's recorded ts counts only when the property was already
    enabled BEFORE it (Delta's ictEnablementVersion rule): earlier
    commits carry plan-time wall clock and keep their mtimes. Either way
    the effective timeline folds through a running max. Raises if the
    table's first commit is later than ``timestamp``."""
    use_ict = _ict_enabled(replay(io).meta)
    commits, _ = log_listing(io)
    best = None
    eff = float("-inf")
    ict_on = False
    for v in sorted(commits):
        ts = None
        if use_ict:
            was_on = ict_on
            for a in read_commit(io, v):
                if (ts is None and "info" in a
                        and a["info"].get("ts") is not None):
                    ts = float(a["info"]["ts"])
                if "meta" in a:
                    ict_on = _ict_enabled(a["meta"])
            if not was_on:
                ts = None
        eff = max(eff, commits[v] if ts is None else ts)
        if eff <= timestamp:
            best = v
        else:
            break  # effective timeline is monotone: done
    if best is None:
        raise ValueError(f"{io.table}: no commit at or before timestamp "
                         f"{timestamp} (earliest commit is later)")
    return best


class Change(NamedTuple):
    """One change-feed event of :func:`walk_changes`."""
    version: int
    #: partition layout (partition_cols) the file was written under
    era: tuple
    #: 'add' | 'remove' (whole file) | 'partial' (removal of a
    #: tombstoned file: its rows minus ``dv``) | 'dv' (newly tombstoned
    #: keys ``dv`` of a live file)
    kind: str
    path: str
    dv: dict | None


def walk_changes(io, from_version: int, to_version: int):
    """Yield the :class:`Change` events of the commits in
    ``(from_version, to_version]``, in log order.

    Deletion-vector state is tracked THROUGH the walk, seeded from the
    window-start snapshot: a dv action yields exactly its newly
    tombstoned keys; a data-changing remove of a tombstoned file yields
    a 'partial' event carrying the tombstones accumulated by the
    removal point (only its VISIBLE rows leave the table — the earlier
    tombstones were already fed, in this window or a previous one).
    ``dataChange: false`` actions (optimize/repartition swaps, DV
    materialization) yield nothing: visible rows are unchanged.

    Partition-layout eras: files written before a repartition_table
    live under the OLD layout's ``key=value/`` paths and omit the old
    partition columns from their data. repartition_table rewrites every
    live file, so any file referenced by commit i was written under the
    layout in force at commit i (a commit's meta action precedes its
    file actions) — each event carries that layout.

    DV keys and keyCols are RAW (physical names on column-mapped
    tables). Multiset netting of adds against removes stays with the
    caller."""
    _, meta0, live0, _, _ = replay(io, from_version)
    dv_state = {p: a["dv"] for p, a in live0.items() if a.get("dv")}
    era = tuple(meta0.get("partition_cols") or ())
    for v in range(from_version + 1, to_version + 1):
        for action in read_commit(io, v):
            if "meta" in action:
                era = tuple(action["meta"].get("partition_cols") or ())
            elif "add" in action:
                a = action["add"]
                dv_state.pop(a["path"], None)
                if a.get("dataChange", True):
                    yield Change(v, era, "add", a["path"], None)
            elif "remove" in action:
                r = action["remove"]
                dv = dv_state.pop(r["path"], None)
                if r.get("dataChange", True):
                    yield Change(v, era, "partial" if dv else "remove",
                                 r["path"], dv)
            elif "dv" in action:
                d = action["dv"]
                cur = dv_state.get(d["path"])
                fresh = dv_minus(d, cur)  # not already tombstoned
                if fresh:
                    yield Change(v, era, "dv", d["path"],
                                 {"keyCols": list(d["keyCols"]),
                                  "keys": fresh})
                dv_state[d["path"]] = merge_dv(cur, d)


# ------------------------------------------------------------- commit loop
def publish(io, version: int, actions: list[dict]) -> bool:
    """Publish commit ``version`` with its count trailer; False when the
    version is taken. Commit 0 of a new table; later ones via
    :func:`commit`."""
    return io.write(commit_name(version),
                    commit_payload(actions).encode("utf-8"))


def repair_commit(io, version: int) -> None:
    """Rewrite a TORN commit as :func:`repair_payload` (module
    docstring); ValueError for an out-of-range or cleanly parsing
    version. A retry after a crash mid-repair rewrites the same bytes."""
    latest = latest_version(io)
    if version < 0 or version > latest:
        raise ValueError(f"version {version} out of range 0..{latest}")
    try:
        read_commit(io, version)
    except TxCorruption:
        pass  # genuinely torn: repair below
    else:
        raise ValueError(f"{io.table}@v{version} parses cleanly — refusing "
                         "to repair an intact commit")
    io.write(commit_name(version), repair_payload().encode("utf-8"),
             replace=True)


def commit_ts(io, version: int) -> float | None:
    """The version's recorded provenance ``ts`` (None for a commit
    without one, e.g. a repaired commit)."""
    for a in read_commit(io, version):
        if "info" in a and a["info"].get("ts") is not None:
            return float(a["info"]["ts"])
    return None


def _check_intervening(table: str, actions: list[dict],
                       intervening: list[dict]) -> None:
    """The rules every commit obeys against the actions published since
    its read snapshot (:class:`TxConflict` / :class:`TxProtocolError`)."""
    removes = {a["remove"]["path"] for a in actions if "remove" in a}
    dv_keycols = {a["dv"]["path"]: list(a["dv"]["keyCols"])
                  for a in actions if "dv" in a}
    removed_by_others = {a["remove"]["path"] for a in intervening
                         if "remove" in a}
    dv_by_others = {a["dv"]["path"] for a in intervening if "dv" in a}
    # file-level write-write conflicts (the public Delta rule), extended
    # to deletion vectors: tombstoning a file a concurrent commit already
    # rewrote targets dead data; rewriting a file a concurrent commit
    # tombstoned would resurrect its deleted rows (the rewrite was
    # planned against the old DV state).
    clash = ((removes & removed_by_others)
             | (set(dv_keycols) & removed_by_others)
             | (removes & dv_by_others))
    if clash:
        raise TxConflict(
            f"files {sorted(clash)} were concurrently removed/tombstoned; "
            f"re-run the operation on the new snapshot of {table}")
    # a concurrent DV on the same file with DIFFERENT key columns would
    # make the folded tombstone set unmergeable (one keyed set per file
    # — merge_dv); publishing on top would brick every later fold.
    keycol_clash = sorted(
        a["dv"]["path"] for a in intervening
        if "dv" in a and a["dv"]["path"] in dv_keycols
        and list(a["dv"]["keyCols"]) != dv_keycols[a["dv"]["path"]])
    if keycol_clash:
        raise TxConflict(
            f"files {keycol_clash} received concurrent deletion vectors "
            f"with different key columns; re-run the delete on the new "
            f"snapshot of {table}")
    for a in intervening:
        if "protocol" in a:
            # a concurrent writer upgraded the table: publishing on top
            # is only sound if this client writes at that level
            check_protocol(a["protocol"], table, writer=SUPPORTED_WRITER)


def commit(io, actions: list[dict], snap: Snapshot, *, validate=None,
           txn: tuple[str, int] | None = None) -> int | None:
    """Optimistic publish of ``actions`` planned on the RAW snapshot
    ``snap`` (``snap.version`` is the read version). Returns the
    published version, or None when ``txn=(app_id, version)`` is
    already in the ledger of ``snap`` or of a commit published since —
    the check is re-taken on the version it would publish on. Commits
    published since ``snap`` are checked first (:func:`_check_intervening`),
    then by the op's ``validate(intervening_actions)`` hook (more
    precise messages), then by Delta's MetadataChanged rule: rows staged
    under ``snap``'s meta conflict with any intervening ``meta`` action
    (``dataChange: false`` commits commute). Under ``inCommitTimestamps``
    the ``info`` ts is re-stamped strictly above the parent's (the
    public Delta ICT design; :func:`version_at` reads it). A lost
    publish re-reads and retries; every ``checkpointInterval`` versions
    (default ``CHECKPOINT_INTERVAL``) a best-effort checkpoint follows."""
    check_protocol(snap.protocol, io.table, writer=SUPPORTED_WRITER)
    actions = list(actions)
    if txn is not None:
        app, ver = txn[0], int(txn[1])
        if snap.txns.get(app, -1) >= ver:
            return None
        actions.append({"txn": {"appId": app, "version": ver}})
    ict = (next((a["info"] for a in actions if "info" in a), None)
           if _ict_enabled(snap.meta) else None)
    stages_rows = any("add" in a and a["add"].get("dataChange", True)
                      for a in actions)
    checked = snap.version
    while True:
        latest = latest_version(io)
        if latest > checked:
            intervening = [a for v in range(checked + 1, latest + 1)
                           for a in read_commit(io, v)]
            if txn is not None and any(
                    "txn" in a and a["txn"]["appId"] == app
                    and a["txn"]["version"] >= ver for a in intervening):
                return None  # a concurrent writer applied this txn
            _check_intervening(io.table, actions, intervening)
            if validate is not None:
                validate(intervening)
            if stages_rows and any("meta" in a for a in intervening):
                raise TxConflict(
                    f"table metadata of {io.table} changed under this "
                    f"write (constraint or schema commit); re-run so the "
                    f"staged rows validate against the new rules")
            checked = latest
        if ict is not None:
            ict["ts"] = round(max(time.time(),
                                  (commit_ts(io, latest) or 0.0) + 0.001), 3)
        if publish(io, latest + 1, actions):
            break
    published = latest + 1
    interval = int((snap.meta.get("properties") or {})
                   .get("checkpointInterval", CHECKPOINT_INTERVAL))
    if interval and published % interval == 0:
        try:
            write_checkpoint(io, replay(io, published))
        except Exception:
            pass  # maintenance only: the commit IS published
    return published
