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
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import weakref

_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


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
    the loser discards its copy and gets the winner's path."""
    from .operators.txproto import TXPROTO_VERSION

    digest = hashlib.md5(
        repr((_fingerprint(paths), TXPROTO_VERSION)).encode()).hexdigest()
    base = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_{name}_{digest[:16]}")
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
    return base
