"""Operator-internal persists and the scope that releases them.

An operator persists a frame it reads from more than one branch (a
hot-key pre-count and the window plan, a bucket-totals pull and the
windowed plan). The operator returns a lazy frame, so it cannot release
that cache itself: only its caller knows when the result has been
consumed. `persist` marks the frame MEMORY_AND_DISK and registers it
with the innermost open `released()` scope; the scope unpersists every
frame registered inside it on exit. Outside any scope a persisted frame
lives until LRU eviction or session end.

    with released():
        dedup.line_dedup_keep(d).write.parquet(path)
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar("_SCOPE", default=None)


def persist(df: DataFrame) -> DataFrame:
    """df persisted MEMORY_AND_DISK, released by the open scope if any."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(df)
    return df


@contextmanager
def released() -> Iterator[None]:
    """Unpersist, on exit, every frame `persist` registered in the block."""
    frames: list[DataFrame] = []
    token = _SCOPE.set(frames)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for df in frames:
            df.unpersist()
