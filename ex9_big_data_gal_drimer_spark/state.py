"""The one owner of the engine's session memos and tmp stores.

Both are keyed on the input they derive from: its absolute path plus
a fingerprint of its bytes on disk, so an input rewritten at the same
path misses instead of serving state built from the old bytes.  A
fingerprint is a few ``os.stat`` calls and launches no Spark job.
Memos live for the Spark application and are dropped by
:func:`release` (``catalog.release_caches``); stores outlive it.
"""

from __future__ import annotations

import hashlib
import os
import re
import stat
import tempfile

from pyspark.sql import DataFrame, SparkSession


def fingerprint(src: str) -> tuple:
    """``(size, mtime_ns)`` of a file; for a directory (an sf_dir, a
    parquet dataset) each entry's name and fingerprint, sorted.  A
    path the local filesystem cannot stat fingerprints as ``()``."""
    try:
        st = os.stat(src)
    except OSError:
        return ()
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    with os.scandir(src) as it:
        return tuple(sorted((e.name, *fingerprint(e.path)) for e in it))


#: (applicationId, kind, abspath, params) -> (fingerprint, value).
_MEMO: dict[tuple, tuple[tuple, object]] = {}


def _unpersist(value) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            v.unpersist()


def memo(spark: SparkSession, kind: str, src: str, *params, build=None):
    """The session's value for (``kind``, ``src``, ``params``) at the
    current fingerprint of ``src``, keyed ``(applicationId, kind,
    abspath, fingerprint, params)``; on a miss, ``build()`` it and keep
    it (without ``build``, a miss returns None).  An entry built from
    an older fingerprint is unpersisted and replaced."""
    slot = (spark.sparkContext.applicationId, kind, os.path.abspath(src), params)
    fp = fingerprint(src)
    held = _MEMO.get(slot)
    if held is not None:
        if held[0] == fp:
            return held[1]
        del _MEMO[slot]
        _unpersist(held[1])
    if build is None:
        return None
    value = build()
    _MEMO[slot] = (fp, value)
    return value


def release(spark: SparkSession) -> None:
    """Unpersist and drop every memo of the session."""
    app = spark.sparkContext.applicationId
    for slot in [s for s in _MEMO if s[0] == app]:
        _unpersist(_MEMO.pop(slot)[1])


def store_path(kind: str, src: str, *params) -> str:
    """Tmp directory of the ``kind`` store derived from ``src``.  The
    name keeps the source's basename for people; the hash covers the
    full path, the fingerprint and ``params``, so two directories both
    named ``sf0.01`` — or one rewritten in place — never share a store."""
    src = os.path.abspath(src)
    digest = hashlib.md5(
        repr((src, fingerprint(src), params)).encode()
    ).hexdigest()[:10]
    slug = re.sub(r"\W", "_", os.path.basename(src))
    return os.path.join(tempfile.gettempdir(), f"ex9_{kind}_{slug}_{digest}")


def write_once(write, *paths: str) -> None:
    """Run ``write`` unless every path already holds the ``_SUCCESS``
    marker of a completed write."""
    if not all(os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths):
        write()
