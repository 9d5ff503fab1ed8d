"""The engine's only persist / checkpoint / free site, with two lifetimes.

``materialize(df, eager=False)`` — a frame a query RETURNS, or reads
after its function returns: the reuse barrier under a subtree with
several consumers, the optimizer-opaque barrier ``dedup._spread``
needs, a pinned rank input.

* ``eager=False`` is a lazy ``persist()``: lineage is kept, the cache
  arms on the first action, and a frame read after its free merely
  recomputes.
* ``eager=True`` is ``localCheckpoint()``: materialized now, lineage
  truncated. Prefer it where several parallel BroadcastExchange
  builders consume the frame — they race on a not-yet-armed lazy cache
  and each recompute the subtree.

Lifetime contract: every materialized frame belongs to the current
query invocation and stays readable until the next OUTERMOST
registered query starts (``query_scope``, entered by
``plans.registry.register`` and by the bench for its unregistered
callables). That entry frees all of them; nothing else does, apart
from the ``release_caches()`` teardown. Freeing an eager frame is
DESTRUCTIVE — its lineage is gone, so a read after the free raises
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` instead of recomputing. Collect a
query's result before starting the next query (the construct→collect
order of the driver, the bench and the tests).

Scoping by invocation, not by plan, gives two guarantees. Two live
frames with the same plan are independent (nothing keyed on the plan
can retire one of them). And no invocation reads data an earlier one
materialized: the free leaves no armed InMemoryRelation for a new
``persist()`` to match via ``sameResult``, so every invocation computes
from its inputs — the bench-honesty rule.

The scope depth is process-wide, not thread-local: a registered query
called from inside another (the equivalence audits) or from a
foreachBatch callback thread while its parent drains the stream joins
the parent's invocation instead of freeing its frames.

``pinned(*dfs)`` — function-local pins: persisted for a ``with`` block
and unpersisted on leaving it, on the exception path too.

``disabled()`` turns ``materialize`` into a pass-through, so plan
audits can assert the pre-materialization lineage
(``scripts/gen_plans.py``).
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# Handles to free at the next outermost query start: lazily persisted
# DataFrames and checkpointed RDDs. Both free with ``unpersist(False)``.
_live: list = []
_depth = 0
_depth_lock = threading.Lock()  # foreachBatch callbacks run on py4j threads
_disabled = False


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` for the current query invocation (see the
    module docstring for the lifetime)."""
    if _disabled:
        return df
    if eager:
        out = df.localCheckpoint()
        # The LogicalRDD under a checkpointed Dataset is the persisted
        # RDD. PySpark never drops the JVM references that pin its
        # blocks, so holding this handle is the only way to free them.
        _live.append(out._jdf.queryExecution().analyzed().rdd())
    else:
        out = df.persist()
        _live.append(out)
    return out


def release_caches() -> int:
    """Free every frame materialized since the last release; returns
    how many were released."""
    n = len(_live)
    while _live:
        try:
            _live.pop().unpersist(False)
        except Py4JError:
            pass  # context already stopped: its blocks are gone anyway
    return n


@contextmanager
def query_scope() -> Iterator[None]:
    """One query invocation. The outermost entry frees the previous
    invocation's frames; nested entries share the outer invocation."""
    global _depth
    with _depth_lock:
        if _depth == 0:
            release_caches()
        _depth += 1
    try:
        yield
    finally:
        with _depth_lock:
            _depth -= 1


@contextmanager
def pinned(*dfs: DataFrame) -> Iterator[None]:
    """Persist ``dfs`` for the ``with`` block; unpersist on exit."""
    for df in dfs:
        df.persist()
    try:
        yield
    finally:
        for df in dfs:
            df.unpersist(blocking=False)


@contextmanager
def disabled() -> Iterator[None]:
    """Make ``materialize`` return its input unchanged inside the
    block; the previous state is restored on exit."""
    global _disabled
    prev, _disabled = _disabled, True
    try:
        yield
    finally:
        _disabled = prev
