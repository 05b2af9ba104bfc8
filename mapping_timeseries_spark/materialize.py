"""The one place the engine materializes a frame, and the one lifetime
rule for what it materializes.

Two ways to materialize a frame once:

- :func:`scoped_pin` — ``persist()``. Lazy: the first action that reads
  the frame fills the blocks. The lineage stays, so an evicted block is
  recomputed.
- :func:`scoped_checkpoint` — eager ``localCheckpoint``. Runs its job
  now and truncates the lineage, so the blocks are the only copy. Use it
  where a plan must stop growing (iterative rounds) or where a value
  must be computed exactly once (sampled range boundaries, a slice read
  before its own path is overwritten).

Lifetime rule: both register the frame with the innermost
:func:`dedup_cache_scope`, and the scope releases every frame still
registered when it exits, on every exit path, the raising one included.
Consume results INSIDE the scope that built them. A result read after
exit recomputes from its pins (correct, just slow), but a result backed
by a checkpoint raises, because its only copy is gone.

    with dedup_cache_scope():
        pairs = minhash_lsh_pairs(docs).collect()   # consume inside
    # nothing the build materialized is left here

Outside any scope nothing registers and nothing is released by the
engine: a pin lives until ``spark.catalog.clearCache()`` and a
checkpoint until the ContextCleaner frees its RDD once the driver drops
the frame. A long-lived session wraps each build-consume cycle in a
scope; an operator whose materialization ends before it returns opens
its own.

:func:`release` frees one frame at once and drops it from its scope.
Loops use it to retire a superseded round as soon as the next one is
materialized, so they never hold every round at once. Pins are released
non-blocking; checkpoints block until their blocks are gone.

Scopes are a plain module-level stack, not a ContextVar: the engine
drives each session from one thread, and a stack keeps nested scopes
correct.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

from pyspark.sql import DataFrame

__all__ = ["dedup_cache_scope", "release", "scoped_checkpoint", "scoped_pin"]

_LOG = logging.getLogger(__name__)

_SCOPES: list[list[DataFrame]] = []


def _register(df: DataFrame) -> DataFrame:
    if _SCOPES:
        _SCOPES[-1].append(df)
    return df


def scoped_pin(df: DataFrame) -> DataFrame:
    """``persist()`` ``df`` and register it with the innermost scope."""
    return _register(df.persist())


def scoped_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df``, registered with the innermost
    scope."""
    return _register(df.localCheckpoint(eager=True))


def release(df: DataFrame) -> None:
    """Free what :func:`scoped_pin` or :func:`scoped_checkpoint`
    materialized for ``df`` and drop it from its scope.

    ``DataFrame.unpersist()`` clears the SQL-cache entry of a pin. A
    local checkpoint is a raw persisted RDD under a ``LogicalRDD`` plan
    node that the cache manager never sees, so it takes
    ``analyzed().rdd().unpersist(true)``. Both calls no-op on the other
    kind, so callers need not know which one they hold.

    Error contract: a plan node without ``rdd()`` (``Py4JError``) is the
    no-op case. A JVM-side failure (``Py4JJavaError``: stopped session,
    executor loss) or anything else is logged at debug level, never
    raised, so one failed release cannot abort a scope's teardown."""
    from py4j.protocol import Py4JError, Py4JJavaError

    for scope in _SCOPES:
        scope[:] = [d for d in scope if d is not df]
    try:
        df.unpersist()
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    except Py4JJavaError:
        _LOG.debug("release: JVM-side release failed", exc_info=True)
    except Py4JError:
        pass  # not checkpoint-backed: no rdd() on the analyzed node
    except Exception:
        _LOG.debug("release: unexpected failure", exc_info=True)


@contextmanager
def dedup_cache_scope():
    """Release every frame pinned or checkpointed inside the block when
    it exits, however it exits. See the module docstring."""
    owned: list[DataFrame] = []
    _SCOPES.append(owned)
    try:
        yield
    finally:
        _SCOPES.pop()
        for df in owned:
            release(df)
