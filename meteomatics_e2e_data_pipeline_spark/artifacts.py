"""The package's one artifact cache.

An artifact is anything built once from input files and then reused:
a scan handle, a localCheckpointed pair set, a trained codebook, a
txlog table built on disk. Reuse is only safe while the inputs are the
ones it was built from, so both entry points key every artifact on the
``(relative path, size, mtime_ns)`` fingerprint of every file under its
input ``paths`` — read with ``os.stat`` only, never with a Spark job:

- :func:`memo` keeps one in-memory value per ``(session, key)`` and
  rebuilds it in place when the fingerprint changes. Weak-keyed on the
  session, so a stopped session's values (and the checkpointed plans
  they hold) can be collected.
- :func:`built_dir` publishes a directory under the system temp dir,
  named by the fingerprint and the txlog wire-format version, and
  shared by every process on the machine. A build runs in a private
  temp dir and is renamed into place atomically, so a published dir is
  always complete; the private dir is removed however the build ends.
  Publishing a dir removes the dirs it supersedes: same name, same
  input roots, older fingerprint.

It is also the package's one materialization policy: every persist and
localCheckpoint goes through :func:`materialize`, and :func:`scope`
releases what an operator shared once its output no longer reads it.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import tempfile
import threading
import weakref

from pyspark import StorageLevel

_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_LOCAL = threading.local()


def _fingerprint(paths) -> tuple:
    """``(root, relative path, size, mtime_ns)`` of every file under
    each of ``paths``; a missing root contributes nothing."""
    out = []
    for root in map(str, paths):
        if os.path.isfile(root):
            st = os.stat(root)
            out.append((root, "", st.st_size, st.st_mtime_ns))
            continue
        for d, subdirs, files in os.walk(root):
            subdirs.sort()
            for name in sorted(files):
                st = os.stat(os.path.join(d, name))
                out.append((root, os.path.relpath(os.path.join(d, name), root),
                            st.st_size, st.st_mtime_ns))
    return tuple(out)


def memo(spark, key, paths, build):
    """``build()``'s value, kept per ``(spark, key)`` while the files
    under ``paths`` are unchanged."""
    entries = _SESSIONS.setdefault(spark, {})
    fp = _fingerprint(paths)
    hit = entries.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    entries[key] = (fp, value)
    return value


def built_dir(name: str, paths, build) -> str:
    """Path of the published directory ``build(out)`` writes for the
    current files under ``paths``. ``out`` does not exist yet when
    ``build`` is called. Concurrent builders of one key race benignly:
    the loser discards its copy and gets the winner's path.

    The dir name carries a digest of the input roots next to the
    fingerprint's, so publishing a build can delete exactly the dirs it
    supersedes (same ``name``, same roots, another fingerprint) and
    never a build of the same name over other inputs."""
    from .operators.txproto import TXPROTO_VERSION

    def md5(value) -> str:
        return hashlib.md5(repr(value).encode()).hexdigest()

    prefix = f"spark_graft_{name}_{md5(list(map(str, paths)))[:8]}_"
    digest = md5((_fingerprint(paths), TXPROTO_VERSION))[:16]
    tmp = tempfile.gettempdir()
    base = os.path.join(tmp, prefix + digest)
    if os.path.exists(base):
        return base
    private = tempfile.mkdtemp(prefix=f"spark_graft_{name}_build_")
    try:
        out = os.path.join(private, "out")
        build(out)
        try:
            os.rename(out, base)
        except OSError:
            if not os.path.exists(base):
                raise
    finally:
        shutil.rmtree(private, ignore_errors=True)
    superseded = re.compile(re.escape(prefix) + "[0-9a-f]{16}")
    for entry in os.listdir(tmp):
        if superseded.fullmatch(entry) and entry != prefix + digest:
            shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
    return base


def materialize(df, kind: str):
    """``df`` materialized for one of three reasons, each one call:

    - ``"shared"``: several branches of ONE action read ``df`` and no
      driver decision does. A lazy ``persist(MEMORY_AND_DISK)``: the
      cache fills inside that action and substitutes into every
      consumer before optimization, so the subtree runs once and
      construction runs no job. (A localCheckpoint cannot do this even
      with ``eager=False``: building its RDD under AQE materializes
      every upstream stage as construction-time jobs.) The frame is
      registered with this thread's innermost open :func:`scope`.
    - ``"truncate"``: a loop whose rounds read the previous round
      several times and whose result only the final action reads.
      ``localCheckpoint(eager=False)`` cuts the plan to a LogicalRDD
      per round. persist does not truncate the logical plan: each round
      would multiply the analyzed tree, and the analyzer hangs or
      exhausts the heap on deep inputs.
    - ``"eager"``: the driver reads ``df`` now (a count, a collect, a
      convergence test), or ``df`` is state that must outlive its
      lineage (a loop round, a fold's output, a memoized artifact).
      ``localCheckpoint(eager=True)``: one job now. Never registered:
      ContextCleaner frees its blocks once the frame is unreachable,
      and a returned checkpoint is the only copy of its data.

    Any other ``kind`` raises ``ValueError``."""
    if kind == "shared":
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        scopes = getattr(_LOCAL, "scopes", None)
        if scopes:
            scopes[-1].append(df)
        return df
    if kind == "truncate":
        return df.localCheckpoint(eager=False)
    if kind == "eager":
        return df.localCheckpoint(eager=True)
    raise ValueError(f"unknown materialize kind {kind!r}; "
                     "expected 'shared', 'truncate' or 'eager'")


@contextlib.contextmanager
def scope():
    """On exit, unpersist every frame ``materialize(df, "shared")``
    registered under this scope in this thread. Open one in an operator
    whose output no longer reads what it shared (its outputs are eager
    checkpoints or driver values); ``@scope()`` also decorates a
    function. An operator that returns a lazy frame only registers, and
    its caller's scope releases the frames; with no scope open, shared
    frames stay cached until Spark evicts them."""
    if not hasattr(_LOCAL, "scopes"):
        _LOCAL.scopes = []
    frames: list = []
    _LOCAL.scopes.append(frames)
    try:
        yield
    finally:
        _LOCAL.scopes.pop()
        for df in frames:
            df.unpersist()
