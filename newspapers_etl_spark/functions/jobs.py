"""Concurrent driver-side job submission (guide §2.6: overlap
independent jobs).

Spark's scheduler happily runs several jobs at once inside one
application; the lifecycle operators' actions are only sequential
because the driver calls them sequentially.  Writing a model's two
parquet roots, or a build's codes root and stats root, are independent
jobs — submitting them from a small thread pool lets the later job's
tasks back-fill executors freed by the earlier job's tail.  On a
cluster this is the same back-fill win; nothing here is local-mode
specific.

``pyspark.inheritable_thread_target(session)`` propagates the driver's
JVM thread-local properties (job group / description) and the session's
job tags into the pool threads — the documented way to run driver
threads (guide §2.6).  Handed the thunk instead of the session, it drops
the tags and warns on every call.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable


def par_jobs(*thunks: Callable[[], Any]) -> list[Any]:
    """Run the given zero-arg callables concurrently, one driver thread
    each, and return their results in argument order.  The first raised
    exception propagates (after every thunk has finished — a failed
    sibling must not leave a half-written root behind an apparently
    completed call)."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    session = SparkSession.active()
    inherit = inheritable_thread_target(session)
    if inherit is session:  # pinned-thread mode off: nothing to inherit
        inherit = lambda t: t  # noqa: E731
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        # collect every outcome before raising so no thunk is abandoned
        # mid-write when a sibling fails
        results, first_err = [], None
        for f in futures:
            try:
                results.append(f.result())
            except BaseException as e:  # noqa: BLE001 - re-raised below
                results.append(None)
                if first_err is None:
                    first_err = e
        if first_err is not None:
            raise first_err
        return results
