"""One owner for the caches a producer hands to its caller.

A producer calls ``persist(df)`` on a frame its lazy result reads more
than once; the caller runs the producer and consumes the result inside
``with scope():``, whose exit unpersists every frame persisted within it.
The stack of open scopes is per thread, because a streaming
``foreachBatch`` callback runs on Py4J's callback thread while the main
thread may run other Spark work. Outside any scope ``persist`` is a plain
session-lifetime ``persist()``.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class _Scopes(threading.local):
    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_scopes = _Scopes()


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it with the innermost open scope. A
    plan that is already cached (by the caller, before the scope) is
    returned untouched, so the scope never releases a cache it did not
    make."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    df.persist()
    if _scopes.stack:
        _scopes.stack[-1].append(df)
    return df


@contextmanager
def scope():
    """Unpersist every frame ``persist`` registered inside the block on
    exit, including an exit on an exception. ``@scope()`` on a function
    opens a fresh scope per call."""
    frames: list[DataFrame] = []
    _scopes.stack.append(frames)
    try:
        yield
    finally:
        _scopes.stack.pop()
        for df in frames:
            df.unpersist()
