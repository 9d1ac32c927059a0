"""The engine's one lifetime module: every persist, checkpoint, memo and
staging dir an operator or sink creates is registered and freed here.

An operator asks for a **barrier** (:func:`barrier`: ``persist()``, or an
eager ``localCheckpoint()`` that also cuts lineage — S5,
``scd_plan.sql:81-83``), a **memo** (:func:`memo`: a session artifact built
once per key) or a **staging dir** (:func:`staging_dir`).  Barriers and dirs
register in the calling thread's innermost open :func:`scope`, else in the
session registry.  Sinks run each write in a scope, so merge intermediates
live exactly as long as the write (S8, ``materialization_scd.sql:30-32``);
session artifacts live until :func:`release_caches`, which a long-lived
session should call after its consuming actions.  Scopes are per thread: a
``foreachBatch`` thread or a concurrent writer never frees another
thread's checkpoint.  A plan the caller already cached is never persisted
or released by the engine — its lifetime is the caller's.  Checkpoints are
LOCAL: a frame built on one cannot be recomputed after losing the executor
that holds its blocks, nor after its release.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# The session registry: what was registered outside any scope.  An entry is
# a staging dir path, or ``(frame, rdd)`` with the checkpointed JVM RDD
# (None for a persist).
_LIVE_CACHES: list = []
_MEMOS: dict = {}
_local = threading.local()


def _scopes() -> list[list]:
    """This thread's stack of open scopes (innermost last)."""
    if not hasattr(_local, "scopes"):
        _local.scopes = []
    return _local.scopes


def _register(artifact) -> None:
    stack = _scopes()
    (stack[-1] if stack else _LIVE_CACHES).append(artifact)


def _free(artifact) -> None:
    try:
        if isinstance(artifact, str):
            shutil.rmtree(artifact, ignore_errors=True)
        elif artifact[1] is not None:
            # Dataset.unpersist does not reach a checkpoint's blocks.
            artifact[1].unpersist(False)
        else:
            artifact[0].unpersist()
    except Exception:
        pass  # session already stopped


def _free_all(registry: list) -> int:
    n = 0
    while registry:
        _free(registry.pop())
        n += 1
    return n


def barrier(df: DataFrame, checkpoint: bool = False) -> DataFrame:
    """``persist()`` (default) or eager ``localCheckpoint()`` (materializes
    and truncates lineage), registered in the current scope.  For a
    persist, a plan the CacheManager already holds (the same key set
    looked up again, or a caller's own cache) is returned as is and not
    registered, so repeated calls leave one entry and a caller's cache is
    never released by the engine."""
    if checkpoint:
        out = df.localCheckpoint()
        _register((out, out._jdf.queryExecution().logical().rdd()))
        return out
    if df.storageLevel != StorageLevel.NONE:
        return df
    out = df.persist()
    _register((out, None))
    return out


def staging_dir(prefix: str) -> str:
    """A fresh temp dir, registered in the current scope; removed on
    release."""
    d = tempfile.mkdtemp(prefix=prefix)
    _register(d)
    return d


def memo(key, build):
    """``build()``'s value, built once per ``key`` until
    :func:`release_caches`.  The artifacts ``build`` registers belong to
    the session, not to any scope open around the call."""
    if key in _MEMOS:
        return _MEMOS[key]
    outer, _local.scopes = _scopes(), []
    try:
        value = build()
    finally:
        _local.scopes = outer
    _MEMOS[key] = value
    return value


@contextmanager
def scope():
    """Free, on exit, every artifact this thread registered inside."""
    mine: list = []
    _scopes().append(mine)
    try:
        yield
    finally:
        _scopes().pop()
        _free_all(mine)


def release(df: DataFrame) -> None:
    """Free one barrier now (an iterative loop's previous state).  A frame
    :func:`barrier` did not register — a caller's cache — is left alone."""
    for registry in (*reversed(_scopes()), _LIVE_CACHES):
        for i, artifact in enumerate(registry):
            if not isinstance(artifact, str) and artifact[0] is df:
                del registry[i]
                _free(artifact)
                return


def release_caches() -> int:
    """Free every session artifact — barriers, checkpoints, memos and
    staging dirs — and return how many barriers and dirs were freed.  The
    next call of a memoized builder rebuilds.  A frame still built on a
    released persist just recomputes, but a frame built on a released
    CHECKPOINT has lost its lineage and must not run again; nor may one
    that reads a removed staging dir."""
    _MEMOS.clear()
    return _free_all(_LIVE_CACHES)
