"""Owned persisted tables: operators persist shared subtrees with
`persist`; outside `scope()` they stay persisted, inside one they are
released on its exit. Scopes are per thread: `foreachBatch` runs on another."""
import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_local = threading.local()


def persist(df: DataFrame) -> DataFrame:
    """`df.persist()`, owned by this thread's innermost scope if new."""
    stack = getattr(_local, "stack", None)
    if stack and df.storageLevel == StorageLevel.NONE:
        stack[-1].append(df)
    return df.persist()


@contextmanager
def scope():
    """Unpersist, on exit, exactly what `persist` persisted inside."""
    stack = _local.__dict__.setdefault("stack", [])
    stack.append([])
    try:
        yield
    finally:
        for df in reversed(stack.pop()):
            df.unpersist()
