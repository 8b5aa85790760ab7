"""Generation-scoped release of persisted DataFrame handles, and the
source-stamped artifact memo built on it.

Several exact total-order operators (``relational.global_order_index``
consumers: the exact-NTILE RFM path, customer Pareto, global rank)
``persist(MEMORY_AND_DISK)`` intermediate frames whose *contents pin
sampled range-partition boundaries* — unpersisting them before the
result is materialized would let a recompute re-sample boundaries and
invalidate the driver-side offset tables (see the
``global_order_index`` docstring).  They therefore cannot unpersist
eagerly.  But never unpersisting leaks cache entries across repeated
invocations (bench's min-of-3 passes, a long-lived SQL endpoint):
Spark's CacheManager holds persisted plans until an explicit
``unpersist``, so the ContextCleaner never reclaims them.

The contract here is *generational*: each invocation of an operator
registers its persisted handles under a stable tag and the PREVIOUS
generation for that tag is unpersisted.  By the time an operator is
re-invoked, the prior invocation's result has been consumed (the
driver collects between calls), so releasing its pinned frames is
safe; at most ONE generation per tag stays cached.

Correctness under late re-materialization (holding an old lazy result
frame across a re-invocation, then collecting it): every rotated
frame is CONTENT-DETERMINISTIC (aggregates, decode tables, score
tables) — a recompute through the released handle reproduces the same
rows, just slower.  The one layout-sensitive frame in the engine (the
``global_order_index`` range exchange, whose driver-side offsets pin
a sampled partitioning) is ``localCheckpoint``-ed with its lineage
CUT, so a stale read either serves the checkpointed blocks or fails
loudly — it can never silently recompute under stale offsets.

``memo()`` builds on the same registry: one memoized artifact per tag,
fresh while the Spark application and every source file's
(path, mtime_ns, size) stamp are unchanged. ``source_stamp()`` is the
one place that stamp is computed; the entry module's persisted index
tables record it in a sidecar after each build.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterable
from typing import TypeVar

T = TypeVar("T")

_lock = threading.Lock()
_generations: dict[str, list] = {}
_memos: dict[str, tuple[tuple, object]] = {}
_tag_locks: dict[str, threading.Lock] = {}


def rotate(tag: str, handles) -> None:
    """Register this invocation's persisted frames under ``tag``;
    unpersist (non-blocking) the previous generation for the same tag.

    ``localCheckpoint``-ed frames have no CacheManager entry, so their
    ``unpersist`` is a no-op — their blocks are freed by the
    ContextCleaner once BOTH runtimes drop the references. Dropping the
    registry reference here plus one ``gc.collect()`` starts that chain
    promptly (py4j releases the JVM proxy on Python GC) instead of
    waiting for an incidental collection; blocks still referenced by a
    live result frame's lineage correctly stay alive (freeing them
    would fail that frame loudly — lineage is cut)."""
    import gc

    with _lock:
        old = _generations.get(tag, [])
        _generations[tag] = [h for h in handles if h is not None]
    had_old = bool(old)
    for h in old:
        try:
            h.unpersist(blocking=False)
        except Exception:
            # a handle whose SparkContext is gone is already released
            pass
    if had_old:
        # the loop variable would otherwise keep the LAST handle alive
        # through the collect — exactly the frame the GC is for
        del h, old
        gc.collect()


def source_stamp(sources: Iterable[str]) -> tuple:
    """``(abspath, mtime_ns, size)`` per source file. Nanosecond mtime
    plus size: whole-second mtimes would serve stale data after a
    same-second in-place rewrite."""
    stamp = []
    for path in sources:
        st = os.stat(path)
        stamp.append((os.path.abspath(path), st.st_mtime_ns, st.st_size))
    return tuple(stamp)


def memo(spark, tag: str, sources: Iterable[str], build: Callable[[], T]) -> T:
    """The artifact ``build()`` made for ``tag`` in this Spark
    application from sources with the same :func:`source_stamp`;
    otherwise call ``build()`` and keep its result as the tag's one
    generation. A DataFrame result is registered with :func:`rotate`,
    so the replaced generation is unpersisted.

    Each tag has its own lock: concurrent callers of one tag build
    once, while different tags build in parallel."""
    from pyspark.sql import DataFrame

    key = (spark.sparkContext.applicationId, source_stamp(sources))
    with _lock:
        tag_lock = _tag_locks.setdefault(tag, threading.Lock())
    with tag_lock:
        hit = _memos.get(tag)
        if hit is not None and hit[0] == key:
            return hit[1]
        hit = None  # let rotate's gc.collect reclaim the stale generation
        value = build()
        _memos[tag] = (key, value)
        if isinstance(value, DataFrame):
            rotate(tag, [value])
        return value
