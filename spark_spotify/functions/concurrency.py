"""Overlap independent Spark actions from driver threads (guide §2.6).

The multi-commit warehouse drills are driver-sequential: each commit's
parquet write is a small job (~0.2-0.9 s) that leaves most of local[32]
idle, and the next commit only starts when the py4j call returns.  Where
two commits/writes touch DIFFERENT tables with no data dependency, the
Spark scheduler happily runs them at once inside one application —
actions are only sequential because the driver calls them sequentially
(spark_optimization_guide §2.6).  ``overlap`` submits each thunk from a
small thread pool and returns their results in order; jobs back-fill
executor slots freed by each other's stragglers.

Thread-safety notes: SparkSession is thread-safe for concurrent actions.
Job groups and descriptions are thread-local properties, which a plain
pool thread does not inherit; each thunk therefore runs under a copy of
the caller's properties (``inheritable_thread_target``), so every job a
thunk starts is attributed to the caller's group.  Exceptions propagate
to the caller after all thunks settle (first exception re-raised), so a
failed commit is never silently swallowed while its sibling lands.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def _inheriting(thunk: Callable[[], Any]) -> Callable[[], Any]:
    """``thunk`` bound to the calling thread's local properties (job
    group, description, scheduler pool), captured now."""
    if SparkContext._active_spark_context is None:
        return thunk
    return inheritable_thread_target(SparkSession.active())(thunk)


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run the thunks concurrently, return their results in order.

    Degenerate cases stay cheap: zero thunks -> [], one thunk -> direct
    call (no pool, no thread hop)."""
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(_inheriting(t)) for t in thunks]
        # collect in submission order; re-raises the first failure after
        # every future has settled (pool __exit__ joins all threads)
        return [f.result() for f in futures]
