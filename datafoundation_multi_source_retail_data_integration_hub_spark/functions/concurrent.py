"""The package's one way to run work concurrently.

A query's independent actions (probe counts beside a write, a staged feed
written while a stream replays, per-grain checkpoints, the PQ subspace
fits) run side by side so their per-job scheduling floors overlap instead
of adding up; Spark's scheduler interleaves the concurrent jobs' tasks
across the cores. Every thread the package starts is started here.

Each thread is a ``pyspark.InheritableThread``: it starts with a copy of
the caller's local properties (``spark.job.description``, job group,
scheduler pool), so the jobs it launches stay attributable to the query
that launched them. A plain ``threading.Thread`` starts with none.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark import InheritableThread


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run ``thunks`` concurrently, one thread each, and return their
    results in argument order. Every thunk runs to completion before a
    failure is re-raised (the first in argument order), so no action is
    left running behind the caller."""
    results: list[Any] = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)

    def run(i: int, thunk: Callable[[], Any]) -> None:
        try:
            results[i] = thunk()
        except BaseException as exc:  # re-raised in the caller below
            errors[i] = exc

    threads = [
        InheritableThread(run, args=(i, thunk)) for i, thunk in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results
