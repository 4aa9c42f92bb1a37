"""One owner for the storage that lineage cuts pin.

Every local checkpoint under ``a_tree_spark/`` goes through this module
(tests/test_materialize.py enforces it). Its blocks belong to the one
RDD it creates: ``DataFrame.unpersist()`` does not free them, and the
ContextCleaner frees them only at some later GC. Unlike a plan-keyed
``.cache()``, they are private to the call that made them, so two calls
over an identical plan never share or evict each other's storage.

A ``Held`` releases exactly its own checkpoints; a consumer that runs
after the release fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``
instead of reading stale data. ``retain`` keeps a handle alive for a
lazy frame that the caller runs later.
"""

from __future__ import annotations

import threading
from collections import deque

from pyspark.sql import DataFrame

#: calls whose checkpoints outlive the call. One slot broke the
#: construct-then-execute pattern of the query entry point, which
#: builds the simhash pair, cluster, canonical and curation frames
#: before it runs any: eviction on construction freed storage whose
#: consumer had not run yet (a silent 4x recompute).
RETAINED_CALLS = 8

_retained: deque = deque()
_retained_lock = threading.Lock()


class Held:
    """The checkpoint RDDs that one call created."""

    def __init__(self) -> None:
        self._rdds: list = []

    def checkpoint(self, df: DataFrame, eager: bool = False) -> DataFrame:
        out = df.localCheckpoint(eager)
        # the plan is one LogicalRDD over the persisted RDD
        self._rdds.append(out._jdf.queryExecution().logical().rdd())
        return out

    def release(self) -> None:
        for rdd in self._rdds:
            rdd.unpersist(False)
        self._rdds.clear()


def retain(held: Held) -> None:
    """Keep ``held`` until ``RETAINED_CALLS`` later handles are retained."""
    with _retained_lock:
        _retained.append(held)
        evicted = [
            _retained.popleft()
            for _ in range(len(_retained) - RETAINED_CALLS)
        ]
    for old in evicted:
        old.release()


def retained(df: DataFrame) -> DataFrame:
    """A lazy checkpoint of ``df`` for a consumer that runs after the
    call."""
    held = Held()
    out = held.checkpoint(df)
    retain(held)
    return out
