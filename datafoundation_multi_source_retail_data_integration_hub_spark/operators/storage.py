"""Shared registry for persisted operator intermediates.

Operators persist intermediates (shingle postings, signatures, vector
working sets) so multi-consumer plans compute them once; callers running
many queries in one long-lived session release executor storage between
runs with ``unpersist_all()``. ONE registry for every operator module —
two private copies (the pre-r10 state) meant every harness had to
remember to drain both, and a third module growing its own would leak
silently.

Unpersisting before a consuming action is still CORRECT (Spark just
recomputes), so this is purely a storage-hygiene hook.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []
_RELEASE_HOOKS: list[Callable[[], None]] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for ``unpersist_all``."""
    _PERSISTED.append(df)
    return df.persist()


def on_release(hook: Callable[[], None]) -> None:
    """Register a callback run by every ``unpersist_all`` — for memos of
    what is persisted (sources.tables._SPREAD_MEMO) that must be dropped
    when the registry releases the frames, or a later lookup would skip
    the persist and silently lose the optimizer-barrier/single-scan
    properties the cache provides."""
    _RELEASE_HOOKS.append(hook)


def unpersist_all() -> None:
    """Release every intermediate persisted through this registry."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
    for hook in _RELEASE_HOOKS:
        hook()
